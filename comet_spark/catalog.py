"""Corpus-keyed catalog: the one memo and build-once policy of the query
module (``__spark_entry__.py``).

Every value the query module reuses across queries in a session — lazy table
reads, analyzed query plans, cached side tables, trained indexes,
partition counts, "already exported" markers — lives here, and every
on-disk artifact it reopens across sessions goes through ``build_once``.

Key rule (``get``). An entry is keyed on
``(applicationId, sf_dir, kind, corpus_sig(sf_dir, tables))``.
applicationId, not ``id(spark)``: a garbage-collected session's reused
object address could alias a fresh session onto a stale entry. The corpus
signature names the data version, so a mid-session regen of any table in
``tables`` routes into a fresh build; an empty signature (a missing
table) never memoizes. Parameterized families put their parameter in
``kind`` (``"sq/int8"``, ``"maint/ivf"``, ``"probe/<name>"``,
``"plan/<name>"``).

Eviction rule. On a miss, entries with the same (session, sf_dir, kind)
and another signature are dropped first, so a regen never strands an old
entry. Dropping an entry unpersists every cached DataFrame its value
holds — directly, inside tuples, lists and dicts, or as an attribute of a
``comet_spark`` object — unless a live entry holds the same DataFrame
object (a documents-only regen must not uncache the embeddings entry that
a documents+embeddings entry also held).

Spark's own cache rule. Spark matches cached plans by file PATH, not by
file version, so a DataFrame cached over the old files (by an evicted
entry, or inside an operator) would be served to a new plan over the
rewritten ones. The first miss after a table changes therefore calls
``spark.catalog.refreshByPath`` on it, once per table version (the
``refreshed/<table>`` entries).

Stamp rule (``build_once``). An on-disk artifact is reused when its stamp
file holds the current, non-empty signature and ``probe()`` reopens it.
Otherwise the stamp is removed, ``build()`` runs, and the stamp is
written LAST, so a crash mid-build routes the next session into the
rebuild.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

V = TypeVar("V")

_ENTRIES: dict[tuple[str, str, str, str], object] = {}


def corpus_sig(sf_dir: str, tables: str) -> str:
    """Cheap change-detector for testdata tables: file names + sizes +
    mtimes. Handles both testdata layouts: a parquet
    directory (walked) and a single parquet file. ``tables`` may name
    several tables joined with '+'; a missing member voids the whole
    signature (``""``), which never validates."""
    if "+" in tables:
        subs = [corpus_sig(sf_dir, t) for t in tables.split("+")]
        return "" if "" in subs else "||".join(subs)
    root = f"{sf_dir}/{tables}.parquet"
    paths = []
    if os.path.isdir(root):
        for dirpath, _, files in sorted(os.walk(root)):
            paths.extend(os.path.join(dirpath, f) for f in sorted(files))
    elif os.path.exists(root):
        paths.append(root)
    parts = []
    for p in paths:
        st = os.stat(p)
        parts.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def get(
    kind: str, spark: SparkSession, sf_dir: str, tables: str,
    build: Callable[[], V],
) -> V:
    """The entry for ``kind`` over the current version of ``tables``,
    calling ``build()`` on a miss."""

    def fresh_build() -> V:
        for t in tables.split("+"):
            _memo(
                f"refreshed/{t}", spark, sf_dir, t,
                lambda: spark.catalog.refreshByPath(f"{sf_dir}/{t}.parquet"),
            )
        return build()

    return _memo(kind, spark, sf_dir, tables, fresh_build)


def build_once(
    stamp_path: str, sig: str, probe: Callable[[], V], build: Callable[[], V]
) -> V:
    """Reopen the on-disk result via ``probe()`` when ``stamp_path`` holds
    ``sig``; else ``build()`` it and stamp ``sig`` last."""
    try:
        with open(stamp_path) as fh:
            fresh = sig != "" and fh.read() == sig
    except OSError:
        fresh = False
    if fresh:
        try:
            return probe()
        except Exception:  # noqa: BLE001 — a broken artifact is rebuilt
            pass
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    out = build()
    if sig:
        os.makedirs(os.path.dirname(stamp_path), exist_ok=True)
        with open(stamp_path, "w") as fh:
            fh.write(sig)
    return out


def _memo(
    kind: str, spark: SparkSession, sf_dir: str, tables: str,
    build: Callable[[], V],
) -> V:
    sig = corpus_sig(sf_dir, tables)
    if sig == "":
        return build()
    key = (spark.sparkContext.applicationId, sf_dir, kind, sig)
    if key in _ENTRIES:
        return _ENTRIES[key]  # type: ignore[return-value]
    _evict([k for k in _ENTRIES if k[:3] == key[:3]])
    val = _ENTRIES[key] = build()
    return val


def clear() -> None:
    """Drop every entry, unpersisting what they cached."""
    _evict(list(_ENTRIES))


def _frames(value: object, seen: set[int]):
    if id(value) in seen:
        return
    seen.add(id(value))
    if isinstance(value, DataFrame):
        yield value
    elif isinstance(value, dict):
        for v in value.values():
            yield from _frames(v, seen)
    elif isinstance(value, (tuple, list)):
        for v in value:
            yield from _frames(v, seen)
    elif type(value).__module__.startswith("comet_spark") and hasattr(value, "__dict__"):
        for v in vars(value).values():
            yield from _frames(v, seen)


def _evict(keys: list[tuple[str, str, str, str]]) -> None:
    dropped = [_ENTRIES.pop(k) for k in keys]
    if not dropped:
        return
    live: set[int] = set()
    for v in _ENTRIES.values():
        live.update(id(df) for df in _frames(v, set()))
    for v in dropped:
        for df in _frames(v, set()):
            if getattr(df, "is_cached", False) and id(df) not in live:
                try:
                    df.unpersist()
                except Exception:  # noqa: BLE001 — eviction is best-effort
                    pass
