"""Schema contract for the driver-generated testdata.

The driver regenerates /root/testdata each round, and physical types have
shifted between rounds (events.ts was TIMESTAMP(NANOS) in r1-r2,
TIMESTAMP(MICROS) in r3 — which silently broke every events query until
the read-side normalization landed). This test pins the contract each
query assumes so a testdata change fails HERE, loudly, instead of as a
cryptic mid-suite type error."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR_ORACLE

EXPECT = {
    "region": {"r_regionkey": {"int64", "int32"}, "r_name": {"string", "large_string"}},
    "nation": {"n_nationkey": {"int64", "int32"}, "n_regionkey": {"int64", "int32"}},
    "customer": {"c_custkey": {"int64"}, "c_mktsegment": {"string", "large_string"}},
    "supplier": {"s_suppkey": {"int64"}, "s_nationkey": {"int64", "int32"}},
    "part": {"p_partkey": {"int64"}, "p_retailprice": {"double"}},
    "orders": {
        "o_orderkey": {"int64"},
        "o_totalprice": {"double"},
        # orderdate has shipped as timestamp[us]; date32 would also work
        # for the queries (comparisons against TIMESTAMP literals)
        "o_orderdate": {"timestamp[us]", "timestamp[ns]", "date32[day]"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_shipdate": {"timestamp[us]", "timestamp[ns]", "date32[day]"},
    },
    "events": {
        "event_id": {"int64"},
        # _t() normalizes either to int64 epoch nanos
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
        "n_chars": {"int64", "int32"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>",
                      "list<element: double>", "list<item: double>"},
        "label": {"int64", "int32"},
    },
}


@pytest.mark.parametrize("table", sorted(EXPECT))
def test_testdata_schema_contract(table):
    schema = pq.read_schema(f"{SF_DIR_ORACLE}/{table}.parquet")
    fields = {f.name: str(f.type) for f in schema}
    for col, allowed in EXPECT[table].items():
        assert col in fields, f"{table}.{col} missing (have {sorted(fields)})"
        assert fields[col] in allowed, (
            f"{table}.{col} is {fields[col]}, expected one of {sorted(allowed)} "
            "— the driver changed the testdata physical type; audit every "
            "query consuming this column (see memory: driver-testdata-shifts)"
        )


def test_corpus_sig_detects_change_on_single_file_tables(tmp_path):
    """The BM25 artifact-reuse fingerprint must be non-empty for BOTH
    testdata layouts — parquet directory AND single parquet file (the
    shipped layout; os.walk on a non-directory yields nothing, which
    once made every signature '' and the staleness guard vacuous) — and
    must change when the file changes."""
    import os

    from comet_spark.catalog import corpus_sig

    live = corpus_sig(SF_DIR_ORACLE, "documents")
    assert live != ""

    f = tmp_path / "documents.parquet"
    f.write_bytes(b"one")
    s1 = corpus_sig(str(tmp_path), "documents")
    assert s1 != ""
    f.write_bytes(b"four!")
    s2 = corpus_sig(str(tmp_path), "documents")
    assert s2 != s1  # size changed -> signature changed

    d = tmp_path / "dirtable" / "documents.parquet"
    os.makedirs(d)
    (d / "part-0.parquet").write_bytes(b"a")
    s3 = corpus_sig(str(tmp_path / "dirtable"), "documents")
    assert s3 != "" and "part-0" in s3  # directory layout walked

    assert corpus_sig(str(tmp_path), "missing_table") == ""
