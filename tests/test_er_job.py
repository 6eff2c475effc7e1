"""End-to-end probabilistic record-linkage job (jobs/run_er.py):
meta-blocking -> agreement vectors -> fixed-u Fellegi-Sunter EM ->
threshold -> connected components, with checkpoint/resume and the
north-rule gates (pairwise F1 >= 0.99, per-row sha256 invariant)."""

import json

from pyspark.sql import functions as F


def _run(spark, tmp_path, n, run_id):
    import contextlib
    import importlib
    import io

    mod = importlib.import_module("jobs.run_er")
    out = str(tmp_path / f"out_{run_id}")
    ck = str(tmp_path / "ckpt")  # shared -> second run resumes
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = mod.main(
            [
                "--synthetic", str(n),
                "--output", out,
                "--checkpoint-dir", ck,
                "--evaluate-gold",
            ]
        )
    assert rc == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1]), out


def _assert_min_id_components(spark, path):
    """State-mode decisions: every component label is the minimum id of
    its members, and keep_id is that label."""
    df = spark.read.parquet(path)
    grp = df.groupBy("component").agg(F.min("id").alias("min_id"))
    assert grp.filter("component != min_id").count() == 0
    assert df.filter("keep_id != component").count() == 0
    assert df.filter("is_survivor != (id = component)").count() == 0


def test_er_job_f1_sha_and_resume(spark, tmp_path):
    from kiez_spark import synth

    n = 800
    report, out1 = _run(spark, tmp_path, n, "a")
    assert report["input_docs"] == n
    assert report["sha_violations"] == 0
    assert report["pairwise"]["f1"] >= 0.99  # the north-rule bar
    assert report["bcubed"]["f1"] >= 0.99    # record-averaged complement
    # every cluster elects exactly one survivor, and the cluster count
    # must equal the planted entity count (dup clusters + singletons)
    files = synth.repos_files(spark, n=n)
    gold_entities = (
        files.filter(F.col("is_clustered")).select("cluster_id").distinct().count()
        + files.filter(~F.col("is_clustered")).count()
    )
    assert report["clusters"] == gold_entities
    assert report["survivors"] == gold_entities
    # the fixed-u protocol must keep every comparator field discriminative
    # on this corpus (m > u), and the EM prior must reflect that the
    # blocked candidates are match-dominated
    assert report["dropped_fields"] == []
    assert report["em_params"]["p"] > 0.9
    for f, m in report["em_params"]["m"].items():
        assert m > report["em_params"]["u"][f]

    # resume from the shared checkpoint: identical decisions
    report2, out2 = _run(spark, tmp_path, n, "b")
    assert report2["pairwise"] == report["pairwise"]
    a = spark.read.parquet(out1).select("id", "component", "is_survivor")
    b = spark.read.parquet(out2).select("id", "component", "is_survivor")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_er_job_increment_chain(spark, tmp_path):
    """Base run + two --increment runs recover the planted clustering
    exactly: clusters only merge, versions chain, sha invariant holds."""
    import contextlib
    import importlib
    import io

    from kiez_spark import synth
    from kiez_spark.operators import evaluate as EV

    mod = importlib.import_module("jobs.run_er")
    files = synth.repos_files(spark, n=800)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    base_p = str(tmp_path / "base")
    b1_p = str(tmp_path / "b1")
    b2_p = str(tmp_path / "b2")
    docs.filter(F.col("doc_id") % 4 != 3).write.parquet(base_p)
    docs.filter((F.col("doc_id") % 4 == 3) & (F.col("doc_id") < 400)).write.parquet(b1_p)
    docs.filter((F.col("doc_id") % 4 == 3) & (F.col("doc_id") >= 400)).write.parquet(b2_p)
    state = str(tmp_path / "state")

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = mod.main(argv)
        assert rc == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    r0 = run(["--input", base_p, "--output", str(tmp_path / "o0"),
              "--state-dir", state, "--top-n", "0"])
    # base corpus: 120 planted clusters (3 members each present) + 240
    # singletons
    assert r0["clusters"] == 360 and r0["state_version"] == 1

    r1 = run(["--increment", "--input", b1_p,
              "--output", str(tmp_path / "o1"), "--state-dir", state])
    # every batch-1 doc joins an existing cluster: no new entities
    assert r1["clusters"] == 360 and r1["new_version"] == 2
    assert r1["sha_violations"] == 0

    # compact between increments: folds v1+v2 deltas into a v3 snapshot
    # and advances the read base — increment 2 must behave identically
    rc = run(["--compact-state", "--state-dir", state])
    assert rc == {"mode": "compact", "state_version": 3, "base": 3,
                  "folded_versions": 2, "docs": 700}

    r2 = run(["--increment", "--input", b2_p,
              "--output", str(tmp_path / "o2"), "--state-dir", state])
    # 20 cluster-joiners + 80 brand-new singletons
    assert r2["clusters"] == 440 and r2["new_version"] == 4
    assert r2["sha_violations"] == 0

    # the final decisions equal the PLANTED clustering exactly
    final = spark.read.parquet(str(tmp_path / "o2"))
    assert final.count() == 800
    f1 = EV.pairwise_f1(
        EV.clusters_to_pairs(final.select("id", "component")),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).collect()[0]
    assert (f1.tp, f1.fp, f1.fn) == (720, 0, 0)
    # one survivor per entity, survivor = min id (matches the base rule)
    assert final.filter("is_survivor").count() == 440
    assert final.filter("is_survivor and id != keep_id").count() == 0
    for out in ("o0", "o1", "o2"):
        _assert_min_id_components(spark, str(tmp_path / out))


def test_er_job_stream_equals_batch_increments(spark, tmp_path):
    """--stream-input drives the SAME increment core per micro-batch:
    the final state/decisions equal the chained --increment runs, and a
    re-delivered batch (id collision with the state) is a no-op — the
    at-least-once safety argument, exercised directly."""
    import contextlib
    import importlib
    import io

    from kiez_spark import synth
    from kiez_spark.operators import evaluate as EV

    mod = importlib.import_module("jobs.run_er")
    files = synth.repos_files(spark, n=800)
    docs = files.select(
        F.col("row_id").alias("doc_id"), F.col("content").alias("text")
    )
    base_p = str(tmp_path / "sbase")
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    docs.filter(F.col("doc_id") % 4 != 3).write.parquet(base_p)
    # two stream files = two micro-batches (maxFilesPerTrigger=1)
    docs.filter((F.col("doc_id") % 4 == 3) & (F.col("doc_id") < 400)).coalesce(
        1
    ).write.parquet(str(tmp_path / "f1"))
    docs.filter((F.col("doc_id") % 4 == 3) & (F.col("doc_id") >= 400)).coalesce(
        1
    ).write.parquet(str(tmp_path / "f2"))
    import glob
    import shutil

    for i, src in enumerate(
        sorted(glob.glob(str(tmp_path / "f1" / "*.parquet")))
        + sorted(glob.glob(str(tmp_path / "f2" / "*.parquet")))
    ):
        shutil.copy(src, stream_dir / f"batch_{i}.parquet")

    state = str(tmp_path / "sstate")

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = mod.main(argv)
        assert rc == 0
        return [json.loads(line) for line in buf.getvalue().strip().splitlines()]

    run(["--input", base_p, "--output", str(tmp_path / "so0"),
         "--state-dir", state, "--top-n", "0"])

    out = str(tmp_path / "so_stream")
    reps = run(["--stream-input", str(stream_dir), "--output", out,
                "--state-dir", state,
                "--checkpoint-dir", str(tmp_path / "s_ck")])
    assert reps[-1] == {"mode": "stream", "epochs": 2}
    epochs = [r for r in reps if r.get("mode") == "increment"]
    assert len(epochs) == 2
    assert all(r["sha_violations"] == 0 for r in epochs)
    assert epochs[-1]["clusters"] == 440  # same as the batch chain

    # final decisions (last epoch output) recover the planted clustering
    final = spark.read.parquet(f"{out}/epoch={epochs[-1]['epoch']}")
    f1 = EV.pairwise_f1(
        EV.clusters_to_pairs(final.select("id", "component")),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).collect()[0]
    assert (f1.tp, f1.fp, f1.fn) == (720, 0, 0)
    for ep in epochs:
        _assert_min_id_components(spark, f"{out}/epoch={ep['epoch']}")

    # replay safety: re-deliver batch 1 through the plain increment core
    # — every id already lives in the state, so it must be a no-op
    rep = run(["--increment", "--input", str(tmp_path / "f1"),
               "--output", str(tmp_path / "so_replay"),
               "--state-dir", state])[-1]
    assert rep["batch_docs_new"] == 0
    assert rep["matched_pairs"] == 0
    assert rep["clusters"] == 440  # unchanged
