"""Every count a job report prints is recomputed here from what the job
wrote (read back with pyarrow, not through the engine), each report's
key set is pinned, and each job main stays within a Spark-job budget:
the report values come from the stage materialisations and the output
writes that already run, not from extra report actions."""

import collections
import contextlib
import hashlib
import importlib
import io
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from kiez_spark import synth
from kiez_spark.checkpoint import sha_violations

# Spark jobs per job main on these fixtures (local[4], 8 shuffle
# partitions): the most seen in seven runs (29 / 19 / 35 / 36; run_er
# read 34 or 35) plus one, since an AQE query stage can add a job
# between otherwise identical runs. With the report actions they used to
# run they took 47 / 22 / 51 / 55, and with one re-read aggregate per
# checkpointed stage instead of one per run 37 / 19 / 41 / 44.
JOB_BUDGET = {"link_batch": 30, "link_state": 20, "er": 36, "curation": 37}


def _run(spark, module, argv, name):
    """(reports, spark jobs) of one job main."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            rc = importlib.import_module(module).main(argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 0
    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    return [json.loads(x) for x in buf.getvalue().splitlines()
            if x.startswith("{")], jobs


def _rows(path):
    return pq.read_table(path).num_rows


def _n_components(table):
    return len(pc.unique(table.column("component")))


def _files(spark, tmp_path, n):
    path = str(tmp_path / "files")
    synth.repos_files(spark, n=n).select("row_id", "content").write.parquet(path)
    return path


def _docs(spark, tmp_path, n):
    path = str(tmp_path / "docs")
    synth.repos_files(spark, n=n).select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    ).write.parquet(path)
    return path


def test_run_linkage_batch_report(spark, tmp_path):
    out, dec, ck = (str(tmp_path / d) for d in ("out", "dec", "ck"))
    [rep], jobs = _run(spark, "jobs.run_linkage", [
        "--synthetic", "300", "--output", out, "--checkpoint-dir", ck,
        "--max-dist", "12.0", "--write-decisions", dec, "--evaluate-gold",
    ], "link_batch")
    assert set(rep) == {"rows", "components", "survivors",
                        "sha_invariant_ok", "pairwise_f1"}
    clusters = pq.read_table(out)
    assert rep["rows"] == clusters.num_rows == 300
    assert rep["components"] == _n_components(clusters)
    decisions = pq.read_table(dec)
    assert rep["survivors"] == pc.sum(decisions.column("is_survivor")).as_py()
    assert rep["sha_invariant_ok"] is True
    assert rep["pairwise_f1"] == 1.0
    assert jobs <= JOB_BUDGET["link_batch"], jobs


def test_run_linkage_state_report(spark, tmp_path):
    files = _files(spark, tmp_path, 300)
    out, st = str(tmp_path / "out"), str(tmp_path / "state")
    [rep], jobs = _run(spark, "jobs.run_linkage", [
        "--input", files, "--output", out, "--state-dir", st,
        "--max-dist", "12.0",
    ], "link_state")
    assert set(rep) == {"mode", "rows", "components", "sha_violations",
                        "state_version"}
    decisions = pq.read_table(out)
    assert rep["rows"] == decisions.num_rows == 300
    assert rep["components"] == _n_components(decisions)
    # the kernel's shas in the state against hashlib over the input
    emb = pq.read_table(os.path.join(st, "emb"), columns=["id", "content_sha"])
    src = pq.read_table(files)
    content = dict(zip(src.column("row_id").to_pylist(),
                       src.column("content").to_pylist()))
    assert rep["sha_violations"] == sum(
        hashlib.sha256(content[i].encode()).hexdigest() != s
        for i, s in zip(emb.column("id").to_pylist(),
                        emb.column("content_sha").to_pylist())
    ) == 0
    assert rep["state_version"] == 1
    with open(os.path.join(st, "VERSION")) as fh:
        assert fh.read().split() == ["1"]
    assert jobs <= JOB_BUDGET["link_state"], jobs


def test_run_er_report(spark, tmp_path):
    docs = _docs(spark, tmp_path, 400)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    [rep], jobs = _run(spark, "jobs.run_er", [
        "--input", docs, "--output", out, "--checkpoint-dir", ck,
    ], "er")
    assert set(rep) == {
        "input_docs", "candidate_pairs", "em_params", "dropped_fields",
        "matched_pairs", "fs_threshold_micro", "clusters", "survivors",
        "sha_violations",
    }
    src = pq.read_table(docs)
    assert rep["input_docs"] == src.num_rows == 400
    assert rep["candidate_pairs"] == _rows(os.path.join(ck, "blocked"))
    matched = pq.read_table(os.path.join(ck, "matched"))
    assert rep["matched_pairs"] == matched.num_rows
    assert rep["matched_pairs"] == pc.sum(pc.greater(
        matched.column("weight_micro"), rep["fs_threshold_micro"])).as_py()
    decisions = pq.read_table(out)
    assert rep["clusters"] == _n_components(decisions)
    assert rep["survivors"] == pc.sum(decisions.column("is_survivor")).as_py()
    # the shas the matched stage carries against hashlib over the input
    text = dict(zip(src.column("doc_id").to_pylist(),
                    src.column("text").to_pylist()))
    assert rep["sha_violations"] == sum(
        hashlib.sha256(text[i].encode()).hexdigest() != s
        for side in ("a", "b")
        for i, s in zip(matched.column(f"{side}_id").to_pylist(),
                        matched.column(f"{side}_sha").to_pylist())
    ) == 0
    assert jobs <= JOB_BUDGET["er"], jobs


def test_run_curation_report(spark, tmp_path):
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    [rep], jobs = _run(spark, "jobs.run_curation", [
        "--synthetic", "300", "--output", out, "--checkpoint-dir", ck,
    ], "curation")
    assert set(rep) == {
        "input_docs", "drop_reasons", "after_quality", "after_exact_dedup",
        "neardup_groups_gt1", "curated_docs", "split_counts",
        "lineage_consistent",
    }
    assert rep["input_docs"] == _rows(os.path.join(ck, "scrubbed")) == 300
    quality = pq.read_table(os.path.join(ck, "quality"))
    reasons = collections.Counter(quality.column("reason").to_pylist())
    assert rep["drop_reasons"] == dict(reasons)
    assert rep["after_quality"] == pc.sum(quality.column("keep")).as_py()
    assert rep["after_exact_dedup"] == _rows(os.path.join(ck, "exact"))
    sizes = collections.Counter(
        pq.read_table(os.path.join(ck, "neardup")).column("component").to_pylist()
    )
    assert rep["neardup_groups_gt1"] == sum(s > 1 for s in sizes.values())
    curated = pq.read_table(out)
    assert rep["curated_docs"] == curated.num_rows
    splits = collections.Counter(
        str(s) for s in curated.column("split").to_pylist()
    )
    assert rep["split_counts"] == dict(splits)
    assert rep["lineage_consistent"] is True
    assert jobs <= JOB_BUDGET["curation"], jobs


def _tamper(df, row_id):
    return df.withColumn(
        "content_sha",
        F.when(F.col("id") == row_id, F.lit("0" * 64))
        .otherwise(F.col("content_sha")),
    )


def test_sha_violations_ingest_form_counts_one_tampered_row(spark):
    docs = synth.repos_files(spark, n=60).select(
        F.col("row_id").alias("id"), F.col("content").alias("text"),
        F.sha2("content", 256).alias("content_sha"),
    )
    for df, want in ((docs, 0), (_tamper(docs, 7), 1)):
        seen = Observation()
        df.observe(seen, sha_violations()).localCheckpoint()
        assert seen.get["sha_violations"] == want


def test_sha_violations_stored_form_counts_one_tampered_row(spark, tmp_path):
    """run_er --increment checks the corpus shas stored in the state
    against the stored texts: one tampered stored sha reads 1."""
    docs = _docs(spark, tmp_path, 120)
    base, batch = str(tmp_path / "base"), str(tmp_path / "batch")
    src = spark.read.parquet(docs)
    src.filter("doc_id < 100").write.parquet(base)
    src.filter("doc_id >= 100").write.parquet(batch)
    st = str(tmp_path / "state")
    _run(spark, "jobs.run_er", [
        "--input", base, "--output", str(tmp_path / "o0"), "--state-dir", st,
    ], "er_base")
    d = os.path.join(st, "docs", "ver=1")
    path = next(os.path.join(d, f) for f in sorted(os.listdir(d))
                if f.endswith(".parquet")
                and pq.read_metadata(os.path.join(d, f)).num_rows)
    t = pq.read_table(path)
    shas = t.column("content_sha").to_pylist()
    shas[0] = "0" * 64
    i = t.schema.get_field_index("content_sha")
    pq.write_table(t.set_column(i, "content_sha", pa.array(shas)), path)
    # the local filesystem checks the rewritten file against Spark's crc
    os.remove(os.path.join(d, "." + os.path.basename(path) + ".crc"))
    [rep], _ = _run(spark, "jobs.run_er", [
        "--increment", "--input", batch, "--output", str(tmp_path / "o1"),
        "--state-dir", st,
    ], "er_increment")
    assert rep["sha_violations"] == 1


def test_sha_violations_kernel_form_counts_one_tampered_row(spark, monkeypatch):
    """run_linkage's check: the embedding kernel's hashlib sha against
    the JVM's sha2(content); one kernel sha is tampered."""
    run_linkage = importlib.import_module("jobs.run_linkage")
    files = synth.repos_files(spark, n=60)
    derive = synth.derive_embeddings
    for tampered, want in ((False, 0), (True, 1)):
        monkeypatch.setattr(
            synth, "derive_embeddings",
            lambda f, dim, t=tampered: _tamper(derive(f, dim), 7) if t
            else derive(f, dim),
        )
        emb, seen = run_linkage._derive_emb(files, 8)
        assert seen["sha_violations"] == want
        assert emb.columns == ["id", "vec", "content_sha"]


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("checkpointed", [False, True],
                         ids=["in_memory", "checkpoint_dir"])
def test_link_files_releases_engine_cache(spark, tmp_path, checkpointed):
    """The engine's cached candidate table is released once the
    candidates stage is materialised: no cached DataFrame is left."""
    from kiez_spark.linkage import link_files

    spark.catalog.clearCache()
    res = link_files(
        spark, synth.repos_files(spark, n=120), max_dist=12.0,
        checkpoint_dir=str(tmp_path / "ck") if checkpointed else None,
    )
    assert _cache_empty(spark)
    assert res.checkpointer.rows["clusters"] == 120


def test_dsl_release_unpersists_rescored_pairs(spark):
    """DSL persists its rescored pairs for the global-min barrier; the
    engine owns that cache, so release() leaves no cached DataFrame."""
    from kiez_spark.pipeline import HubnessKnn, PipelineConfig

    spark.catalog.clearCache()
    emb = synth.derive_embeddings(synth.repos_files(spark, n=120), dim=16)
    eng = HubnessKnn(PipelineConfig(n_candidates=6, k=3, hubness="dsl"))
    eng.fit(emb.select("id", "vec"))
    assert eng.kneighbors(3).count() == 360
    eng.release()
    assert _cache_empty(spark)
