"""10x-local scale soak for the ORACLE-GATED STREAM builders (r09):
sessionize (stateful), windowed counts (watermark), CMS/HLL sketches,
and the store's streaming ingest. Generates a deterministic 10x events
table (the sf0.1 table replicated with shifted event/user ids at the
SAME timestamps — 10x concurrent users over the same month, which is
how a stream actually scales), FORCE-rebuilds each stream artifact at
sf0.1 and at 10x through the full drive (micro-batches + injected crash
+ replay + the builders' non-vacuity asserts), and records the
wall-clock ratio. State-bounded designs should track the input ~10x;
anything accumulating per-event state would blow past it.

Additive: merges its rows into SCALE_SOAK.json without touching the
rows scripts/soak_scale.py owns.

Usage: python scripts/soak_streams.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
SOAK_DIR = os.path.join(ROOT, ".artifacts", "soak", "sf1")
SF01 = "/root/testdata/sf0.1"

STREAM_GATES = [
    # query name -> artifact dir name under .artifacts/ann/<sf>/
    ("sessionize_stream_closed", "sessionize_stream"),
    ("sessionize_stream_timeout", "sessionize_stream_to"),
    ("wincount_stream_final", "wincount_stream"),
    ("hll_stream_users", "hll_stream"),
    ("cms_stream_counts", "cms_stream"),
    ("store_stream_upsert", "store_stream"),
    ("store_stream_delete", "store_stream_delete"),
    ("ivf_stream_knn", "ivf_stream"),
    # r11: search-while-streaming (both modalities), stream-wired ANN
    # maintenance, metadata CRUD via the stream
    ("store_live_read_knn", "store_live_read"),
    ("bm25_live_read_score", "bm25_live"),
    ("ivf_live_refresh_knn", "ivf_live"),
    ("meta_crud_stream_filter", "meta_crud_stream"),
    ("hnsw_live_topk", "hnsw_live"),
    # r12: CRUD through the live-maintained IVF stream, PQ codebook
    # maintenance, HNSW consolidation
    ("ivf_crud_live_knn", "ivf_crud"),
    ("pq_live_adc_knn", "pq_live"),
    ("hnsw_live_compact_topk", "hnsw_compact"),
    # r13: CRUD through the remaining vector engines + IVFPQ live
    # maintenance. hybrid_doc_stream_rrf is deliberately absent: its
    # builder enforces the testdata 1:1 documents⨝embeddings contract
    # (load-bearing for the text-leg oracle) and the soak corpus is
    # 50k docs / 20k vectors by design; its engine is ivf_ingest_stream
    # + the merged-view BM25 scorer, both already soaked via
    # ivf_crud_live_knn and the bm25 rows.
    ("pq_crud_live_adc", "pq_crud"),
    ("ivfpq_live_adc_knn", "ivfpq_live"),
    ("ivfpq_crud_live_adc", "ivfpq_crud"),
    ("hnsw_crud_live_topk", "hnsw_crud"),
]


def generate_events() -> None:
    """10x events: replicate sf0.1 with shifted event_id/user_id at the
    same timestamps — 10x users, same time span (sessions/windows per
    user unchanged; totals 10x)."""
    out = os.path.join(SOAK_DIR, "events.parquet")
    if os.path.exists(out):
        print(f"10x events already at {out}")
        return
    os.makedirs(SOAK_DIR, exist_ok=True)
    ev = pq.read_table(f"{SF01}/events.parquet")
    n = ev.num_rows
    n_users = 1 + max(ev.column("user_id").to_pylist())
    parts = []
    for rep in range(10):
        t = ev.to_pydict()
        t["event_id"] = [k + rep * n for k in t["event_id"]]
        t["user_id"] = [u + rep * n_users for u in t["user_id"]]
        parts.append(pa.table(t, schema=ev.schema))
    pq.write_table(pa.concat_tables(parts), out)
    print(f"wrote {10 * n} events to {out}")


def main() -> None:
    generate_events()
    # the store/IVF stream gates feed off documents/embeddings — the 10x
    # twins of those tables are owned by soak_scale's generator
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import soak_scale

    soak_scale.generate()

    from comet_spark.session import get_spark

    spark = get_spark("comet-spark-soak-streams")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry
    from comet_spark import catalog

    qs = entry.queries()
    results: dict[str, dict] = {}
    for sf_label, sf_dir in (("sf0.1", SF01), ("soak10x", SOAK_DIR)):
        art_root = f"{entry._art_dir(sf_dir)}"
        for name, art in STREAM_GATES:
            # force the FULL drive (feed + crash + replay + asserts),
            # not a cached-artifact reopen — the build IS the soak.
            # The catalog clears with it: a stale serving entry would
            # point at the just-deleted directory, a probe marker would
            # skip rewriting its query-time export, and clear()
            # unpersists every cached table the entries held, so N
            # iterations do not pin N copies in executor storage.
            shutil.rmtree(f"{art_root}/{art}", ignore_errors=True)
            catalog.clear()
            t0 = time.perf_counter()
            n = len(qs[name](spark, sf_dir).collect())
            dt = round(time.perf_counter() - t0, 2)
            results.setdefault(name, {})[sf_label] = {"sec": dt, "rows": n}
            print(f"{sf_label:8s} {name:28s} {dt:8.2f}s  {n} rows", flush=True)

    print(f"\n{'stream gate':28s} {'sf0.1':>8s} {'10x':>8s} {'ratio':>7s}")
    for name, r in results.items():
        a, b = r["sf0.1"]["sec"], r["soak10x"]["sec"]
        r["ratio"] = round(b / a, 1) if a > 0 else float("inf")
        print(f"{name:28s} {a:8.2f} {b:8.2f} {r['ratio']:>6.1f}x")

    soak_path = os.path.join(ROOT, "SCALE_SOAK.json")
    merged: dict = {}
    if os.path.exists(soak_path):
        with open(soak_path) as fh:
            merged = json.load(fh)
    merged.update(results)
    with open(soak_path, "w") as fh:
        json.dump(merged, fh, indent=1)
    print(f"merged {len(results)} stream-gate rows into {soak_path}")
    spark.stop()


if __name__ == "__main__":
    main()
