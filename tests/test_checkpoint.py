"""StageCheckpointer: recorded values, the lineage check, a run killed
before its verification pass, and directories whose metric tables
Spark's writer appended to."""

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kiez_spark.checkpoint import (
    METRICS_SCHEMA,
    PARTITION_METRICS_SCHEMA,
    StageCheckpointer,
)

METRICS_DDL = "struct<" + ",".join(
    f"{n}:{t}" for n, t in (f.split() for f in METRICS_SCHEMA.split(", "))
) + ">"


def _sig(cols):
    return F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0))


def _recompute(spark, path):
    """Stage totals and partition metrics over the re-read stage, by the
    formulas of the earlier all-Spark checkpointer: count, xor of row
    hashes, xor over DISTINCT content_sha, a groupBy on the partition id."""
    out = spark.read.parquet(path)
    cols = [F.col(c) for c in out.columns]
    sha_sig = 0
    if "content_sha" in out.columns:
        sha_sig = (
            out.select("content_sha").distinct()
            .agg(_sig([F.col("content_sha")])).first()[0]
        )
    totals = (
        out.count(), out.agg(_sig(cols)).first()[0], sha_sig,
        out.rdd.getNumPartitions(),
    )
    parts = out.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count(F.lit(1)), _sig(cols)
    )
    return totals, sorted(tuple(r) for r in parts.collect())


def _no_build():
    raise AssertionError("a complete stage must be read back, not rebuilt")


@pytest.fixture
def stages(spark):
    with_sha = spark.createDataFrame(
        [
            (i, None if i == 7 else f"sha{i % 5}", float(i) / 3)
            for i in range(40)
        ],
        "id bigint, content_sha string, x double",
    ).repartition(3, "id")
    no_sha = spark.range(60).select(
        "id", F.array(F.col("id").cast("float")).alias("vec")
    ).repartition(2)
    empty = spark.createDataFrame([], "id bigint, content_sha string")
    return {"with_sha": with_sha, "no_sha": no_sha, "empty": empty}


def test_stage_values_match_recomputation(spark, stages, tmp_path):
    d = str(tmp_path / "ck")
    ck = StageCheckpointer(spark, d)
    for name, df in stages.items():
        got = ck.stage(name, lambda df=df: df)
        assert sorted(got.collect()) == sorted(df.collect())
    ck.verify()
    m = {r["stage"]: r for r in pq.read_table(f"{d}/_metrics").to_pylist()}
    pm = pq.read_table(f"{d}/_partition_metrics").to_pylist()
    assert set(m) == set(stages)
    for name in stages:
        totals, parts = _recompute(spark, f"{d}/{name}")
        r = m[name]
        assert (r["rows"], r["sig"], r["sha_sig"], r["n_partitions"]) == totals
        assert sorted(
            (p["partition_id"], p["rows"], p["sig"])
            for p in pm if p["stage"] == name
        ) == parts
    assert m["with_sha"]["sha_sig"] != 0 and m["with_sha"]["n_partitions"] > 1
    assert m["no_sha"]["sha_sig"] == 0
    assert (m["empty"]["rows"], m["empty"]["sig"]) == (0, 0)
    assert ck.lineage_consistent()
    assert ck.sha_invariant_ok()
    # resume: every stage reads back, no metrics row is added
    for name, df in stages.items():
        assert sorted(ck.stage(name, _no_build).collect()) == sorted(df.collect())
    assert ck.metrics().count() == len(stages)
    assert spark.read.parquet(f"{d}/_metrics").schema.simpleString() == METRICS_DDL


@pytest.mark.parametrize("rows, sig", [(1, 0), (0, 1)])
def test_lineage_detects_disagreeing_partition_row(
    spark, stages, tmp_path, rows, sig
):
    """An extra partition row that moves only the row count, or only the
    xor signature, breaks the match with the observed write totals."""
    d = str(tmp_path / "ck")
    ck = StageCheckpointer(spark, d)
    ck.stage("with_sha", lambda: stages["with_sha"])
    assert ck.lineage_consistent()
    spark.createDataFrame(
        [("with_sha", 99, rows, sig)], PARTITION_METRICS_SCHEMA
    ).write.mode("append").parquet(f"{d}/_partition_metrics")
    assert not ck.lineage_consistent()


def _tables(d):
    """Both metric tables, without the driver's clock."""
    m = sorted(
        (r["stage"], r["rows"], r["sig"], r["sha_sig"], r["n_partitions"])
        for r in pq.read_table(f"{d}/_metrics").to_pylist()
    )
    pm = sorted(
        tuple(r.values())
        for r in pq.read_table(f"{d}/_partition_metrics").to_pylist()
    )
    return m, pm


@pytest.mark.parametrize("kill", ["before_pass", "mid_pass"])
def test_killed_before_verification_resumes(
    spark, stages, tmp_path, monkeypatch, kill
):
    """A run killed after its stage writes and before its verification
    pass finished (before the pass, or after the partition rows and
    before the _metrics rows) verifies those stages when it resumes,
    rebuilds none of them, and reads what an uninterrupted run reads."""
    whole = str(tmp_path / "whole")
    ck = StageCheckpointer(spark, whole)
    for name, df in stages.items():
        ck.stage(name, lambda df=df: df)
    assert ck.lineage_consistent()

    d = str(tmp_path / "killed")
    ck = StageCheckpointer(spark, d)
    for name, df in stages.items():
        ck.stage(name, lambda df=df: df)
    if kill == "mid_pass":
        append = StageCheckpointer._append

        def dies_at_metrics(self, table, ddl, rows):
            if table == "_metrics":
                raise KeyboardInterrupt
            append(self, table, ddl, rows)

        monkeypatch.setattr(StageCheckpointer, "_append", dies_at_metrics)
        with pytest.raises(KeyboardInterrupt):
            ck.verify()
        monkeypatch.undo()
    ck = StageCheckpointer(spark, d)
    for name, df in stages.items():
        assert sorted(ck.stage(name, _no_build).collect()) == sorted(df.collect())
    assert ck.lineage_consistent()
    assert ck.sha_invariant_ok()
    m, pm = _tables(d)
    assert (m, sorted(set(pm))) == _tables(whole)
    # verified once: a further pass adds nothing
    ck.verify()
    assert _tables(d)[0] == m


def test_spark_written_metrics_dir_resumes(spark, stages, tmp_path):
    """A directory in the earlier format — metric rows appended by Spark's
    writer — resumes, and driver-written rows appended beside them read
    back under Spark and pyarrow alike."""
    d = str(tmp_path / "ck")
    old = stages["with_sha"]
    old.write.parquet(f"{d}/old")
    totals, parts = _recompute(spark, f"{d}/old")
    spark.createDataFrame(
        [("old", *totals, 1.0, 2.0)], METRICS_SCHEMA
    ).write.mode("append").parquet(f"{d}/_metrics")
    spark.createDataFrame(
        [("old", *p) for p in parts], PARTITION_METRICS_SCHEMA
    ).write.mode("append").parquet(f"{d}/_partition_metrics")

    ck = StageCheckpointer(spark, d)
    assert sorted(ck.stage("old", _no_build).collect()) == sorted(old.collect())
    ck.stage("new", lambda: stages["with_sha"].select("content_sha", "id"))
    ck.verify()

    via_spark = spark.read.parquet(f"{d}/_metrics")
    assert via_spark.schema.simpleString() == METRICS_DDL
    via_arrow = pq.read_table(f"{d}/_metrics").to_pylist()
    for rows in (via_spark.collect(), via_arrow):
        assert sorted(r["stage"] for r in rows) == ["new", "old"]
    assert {r["sha_sig"] for r in via_arrow} == {totals[2]}
    pstages = spark.read.parquet(f"{d}/_partition_metrics").select("stage")
    assert {r.stage for r in pstages.collect()} == {"new", "old"}
    assert ck.sha_invariant_ok()
    assert ck.lineage_consistent()
