"""Incremental embedding-space linkage (jobs/run_linkage.py --state-dir):
the LSH-collision + absolute-distance pair rule is LOCAL, so chained
increments must EXACTLY equal a from-scratch state-mode run on the
combined corpus — signature joins are deterministic from the frozen
seed, and union(AxA, AxB, BxB) collisions == (A∪B)x(A∪B) collisions.
Also: stream mode drives the same core per micro-batch, and re-delivered
row_ids are a no-op (at-least-once safety)."""

import contextlib
import importlib
import io
import json

from pyspark.sql import functions as F

MOD = "jobs.run_linkage"


def _run(argv):
    mod = importlib.import_module(MOD)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = mod.main(argv)
    assert rc == 0
    return [json.loads(line) for line in buf.getvalue().strip().splitlines()]


def _assignments(spark, path):
    df = spark.read.parquet(path).select("id", "component")
    # component labels are min-ids, but compare label-invariantly anyway:
    # canonical = min id per component group
    grp = df.groupBy("component").agg(F.min("id").alias("canon"))
    return {
        (r.id, r.canon)
        for r in df.join(grp, "component").select("id", "canon").collect()
    }


def _assert_min_id_components(spark, path):
    """State-mode decisions: every component label is the minimum id of
    its members, and keep_id is that label."""
    df = spark.read.parquet(path)
    grp = df.groupBy("component").agg(F.min("id").alias("min_id"))
    assert grp.filter("component != min_id").count() == 0
    assert df.filter("keep_id != component").count() == 0
    assert df.filter("is_survivor != (id = component)").count() == 0


def test_linkage_increment_chain_equals_full_state_run(spark, tmp_path):
    from kiez_spark import synth
    from kiez_spark.operators import evaluate as EV

    files = synth.repos_files(spark, n=800)
    base_f = files.filter(F.col("row_id") % 4 != 3)
    b1_f = files.filter((F.col("row_id") % 4 == 3) & (F.col("row_id") < 400))
    b2_f = files.filter((F.col("row_id") % 4 == 3) & (F.col("row_id") >= 400))
    paths = {}
    for name, df in (("base", base_f), ("b1", b1_f), ("b2", b2_f),
                     ("all", files)):
        p = str(tmp_path / f"in_{name}")
        df.write.parquet(p)
        paths[name] = p

    state = str(tmp_path / "state")
    r0 = _run(["--input", paths["base"], "--output", str(tmp_path / "o0"),
               "--state-dir", state, "--max-dist", "12.0"])[-1]
    assert r0["state_version"] == 1 and r0["sha_violations"] == 0

    r1 = _run(["--increment", "--input", paths["b1"],
               "--output", str(tmp_path / "o1"), "--state-dir", state])[-1]
    assert r1["new_version"] == 2 and r1["sha_violations"] == 0

    # compact mid-chain: increment 2 must behave identically after it
    rc = _run(["--compact-state", "--state-dir", state])[-1]
    assert rc["state_version"] == 3 and rc["base"] == 3

    r2 = _run(["--increment", "--input", paths["b2"],
               "--output", str(tmp_path / "o2"), "--state-dir", state])[-1]
    assert r2["new_version"] == 4 and r2["sha_violations"] == 0

    # from-scratch state-mode run over the UNION, frozen to the SAME
    # bucket width the chain froze at base time (auto-calibration sees a
    # different corpus otherwise)
    params = json.load(open(f"{state}/params.json"))
    full = _run(["--input", paths["all"], "--output", str(tmp_path / "of"),
                 "--state-dir", str(tmp_path / "state_full"),
                 "--max-dist", "12.0",
                 "--lsh-bucket-width", str(params["bucket_width"])])[-1]
    assert full["sha_violations"] == 0

    for out in ("o0", "o1", "o2", "of"):
        _assert_min_id_components(spark, str(tmp_path / out))

    # EXACT equality of the final clusterings (label-invariant)
    assert _assignments(spark, str(tmp_path / "o2")) == _assignments(
        spark, str(tmp_path / "of")
    )

    # and the chain recovers the planted clustering (north-rule F1)
    final = spark.read.parquet(str(tmp_path / "o2"))
    f1 = EV.pairwise_f1(
        EV.clusters_to_pairs(final.select("id", "component")),
        synth.gold_pairs(files),
        pred_cols=("u", "v"),
    ).collect()[0]
    assert f1.f1 >= 0.99
    assert final.count() == 800


def test_linkage_stream_and_replay(spark, tmp_path):
    import glob
    import shutil

    from kiez_spark import synth

    files = synth.repos_files(spark, n=400)
    base_f = files.filter(F.col("row_id") % 2 == 0)
    batch_f = files.filter(F.col("row_id") % 2 == 1).select("row_id", "content")
    base_p = str(tmp_path / "sbase")
    base_f.write.parquet(base_p)
    batch_p = str(tmp_path / "sbatch")
    batch_f.coalesce(1).write.parquet(batch_p)
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    for i, src in enumerate(sorted(glob.glob(f"{batch_p}/*.parquet"))):
        shutil.copy(src, stream_dir / f"b{i}.parquet")

    state = str(tmp_path / "sstate")
    _run(["--input", base_p, "--output", str(tmp_path / "so0"),
          "--state-dir", state, "--max-dist", "12.0"])

    out = str(tmp_path / "so_stream")
    reps = _run(["--stream-input", str(stream_dir), "--output", out,
                 "--state-dir", state,
                 "--checkpoint-dir", str(tmp_path / "sck")])
    assert reps[-1]["epochs"] == 1
    ep = [r for r in reps if r.get("mode") == "increment"][0]
    assert ep["batch_docs_new"] == ep["batch_docs"] == 200
    assert ep["sha_violations"] == 0

    # replay: the same batch through the plain increment core is a no-op
    rep = _run(["--increment", "--input", batch_p,
                "--output", str(tmp_path / "so_replay"),
                "--state-dir", state])[-1]
    assert rep["batch_docs_new"] == 0
    assert rep["matched_pairs"] == 0
    assert rep["clusters"] == ep["clusters"]
    _assert_min_id_components(spark, f"{out}/epoch={ep['epoch']}")
