"""Driver-contract checks: entry() runs, the fast queries run at sf0.001,
oracle keys are a subset of query keys, and the text operators match
their DuckDB oracles at sf0.001 (full oracle parity is exercised by
tools/check_oracles.py at sf0.01)."""

import duckdb

import __spark_entry__ as entrymod
from tools.check_oracles import TABLES, table_hash

SF_DIR = "/root/testdata/sf0.001"

FAST = [
    "knn_exact_euclidean",
    "hubness_csls",
    "token_counts",
    "minhash_lsh_pairs",
    "events_hourly",
    "linkage_f1",
]

# every dedup text operator with an oracle row: the DuckDB SQL is their
# only second implementation
TEXT_ORACLES = [
    "minhash_signatures",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "jaccard_prefix_pairs",
    "winnow_fingerprints",
    "winnow_pairs",
    "incremental_winnow",
    "simhash_fingerprints",
    "simhash_pairs",
    "online_neardup_flags",
]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"query_id", "cand_id", "rank", "dist"}


def test_oracle_keys_subset():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
    assert len(o) >= 25


def test_fast_queries_run(spark):
    q = entrymod.queries()
    for name in FAST:
        df = q[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_linkage_f1_gate(spark):
    # r6: the gate is oracle-backed with integer outputs (f1_micro)
    row = entrymod.queries()["linkage_f1"](spark, SF_DIR).first()
    assert row.f1_micro >= 990000


def test_text_operator_oracles(spark):
    q, o = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    for name in TEXT_ORACLES:
        sdf = q[name](spark, SF_DIR)
        cols = [c.lower() for c in sdf.columns]
        rows = [tuple(r) for r in sdf.collect()]
        rel = con.sql(o[name])
        dcols = [c.lower() for c in rel.columns]
        drows = rel.fetchall()
        assert sorted(cols) == sorted(dcols), name
        assert len(rows) == len(drows), name
        assert table_hash(cols, rows) == table_hash(dcols, drows), name
