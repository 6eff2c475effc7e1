"""Synthetic generator, LSH tier recall, end-to-end linkage F1,
checkpoint/resume, and salted blocking."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kiez_spark import synth
from kiez_spark.linkage import link_files
from kiez_spark.operators import evaluate as E
from kiez_spark.operators import knn as K
from kiez_spark.operators import lsh as L
from kiez_spark.operators import skew as S

N = 400


@pytest.fixture(scope="module")
def files(spark):
    return synth.repos_files(spark, n=N, cluster_size=4, dup_fraction=0.6).cache()


@pytest.fixture(scope="module")
def emb(spark, files):
    return synth.derive_embeddings(files, dim=32).cache()


@pytest.fixture(scope="module")
def exact_nn(emb, oracle_nn_df):
    """Numpy-oracle exact top-k over ``emb``: k, metric -> table."""
    rows = emb.select("id", "vec").orderBy("id").collect()
    ids = np.array([r["id"] for r in rows])
    mat = np.array([r["vec"] for r in rows], dtype=np.float64)
    return lambda k, metric: oracle_nn_df(ids, mat, k, metric)


def test_synth_deterministic_and_skewed(spark, files):
    again = synth.repos_files(spark, n=N, cluster_size=4, dup_fraction=0.6)
    assert files.exceptAll(again).count() == 0
    assert files.count() == N
    # lang skew: dominant language holds ~half the rows
    top = files.groupBy("lang").count().orderBy(F.desc("count")).first()
    assert top["lang"] == "py" and top["count"] > 0.4 * N
    # planted clusters: 60% of rows in clusters of 4
    n_dup = int(N * 0.6) // 4 * 4
    gp = synth.gold_pairs(files)
    assert gp.count() == (n_dup // 4) * 6  # C(4,2)=6 per cluster


def test_embeddings_separate_clusters(spark, files, exact_nn):
    """Intra-cluster distances must be far below inter-cluster ones."""
    nn = exact_nn(3, "euclidean")
    gold = synth.gold_clusters(files)
    j = (
        nn.join(gold.withColumnRenamed("id", "query_id").withColumnRenamed("component", "qc"), "query_id")
        .join(gold.withColumnRenamed("id", "cand_id").withColumnRenamed("component", "cc"), "cand_id")
    )
    intra = j.filter("qc = cc").agg(F.max("dist")).first()[0]
    inter = j.filter("qc != cc").agg(F.min("dist")).first()[0]
    assert intra < 12.0 < inter


def test_lsh_cosine_recall(spark, emb, exact_nn):
    """LSH must recover the *near* pairs (the ones that matter for
    linkage) — exact top-k truncated to truly-close distances. Far
    rank-4/5 pairs of singleton rows are unreachable for any LSH family
    by construction and are excluded from the recall denominator."""
    exact = exact_nn(5, "cosine")
    near = exact.filter(F.col("dist") < 0.1)
    approx_c = L.lsh_candidates(
        emb, emb, "cosine", n_tables=8, n_bits=12, exclude_self=True
    )
    approx = K.topk(approx_c, 5)
    rec = L.lsh_recall(approx, near)
    assert rec > 0.95, f"cosine LSH near-pair recall too low: {rec}"


def test_lsh_euclidean_recall(spark, emb, exact_nn):
    exact = exact_nn(5, "euclidean")
    near = exact.filter(F.col("dist") < 12.0)
    approx_c = L.lsh_candidates(
        emb, emb, "euclidean", n_tables=12, n_bits=6, bucket_width=32.0,
        exclude_self=True,
    )
    approx = K.topk(approx_c, 5)
    rec = L.lsh_recall(approx, near)
    assert rec > 0.9, f"euclidean LSH near-pair recall too low: {rec}"


@pytest.mark.parametrize("hubness", ["csls", "none"])
def test_linkage_f1(spark, files, hubness):
    res = link_files(
        spark, files, dim=32, k=5, n_candidates=10,
        hubness=hubness, tier="pandas", max_dist=12.0,
    )
    pred_pairs = E.clusters_to_pairs(res.clusters)
    gold = synth.gold_pairs(files)
    row = E.pairwise_f1(
        pred_pairs, gold, pred_cols=("u", "v"), gold_cols=("src_id", "tgt_id")
    ).first()
    assert row.f1 >= 0.99, f"pairwise F1 {row.f1} < 0.99 (hubness={hubness})"


def test_linkage_f1_lsh_tier_at_scale(spark):
    """The north-rule F1 >= 0.99 gate on the SCALE path: approximate
    LSH blocking (not the exact kernel) at 4x the base fixture size.
    Proves the blocking tier's recall is good enough that end-to-end
    cluster quality holds when the exact tier is out of budget."""
    files_big = synth.repos_files(spark, n=1600).cache()
    res = link_files(
        spark, files_big, dim=32, k=5, n_candidates=10,
        hubness="none", tier="lsh", max_dist=12.0,
    )
    pred_pairs = E.clusters_to_pairs(res.clusters)
    gold = synth.gold_pairs(files_big)
    row = E.pairwise_f1(
        pred_pairs, gold, pred_cols=("u", "v"), gold_cols=("src_id", "tgt_id")
    ).first()
    assert row.f1 >= 0.99, f"LSH-tier pairwise F1 {row.f1} < 0.99"


def test_linkage_f1_lsh_at_bench_scale(spark):
    """North-rule bar at realistic blocking density: n=20000 (the sf0.1
    embeddings row count) through the LSH tier — drives the registered
    linkage_f1_lsh_scale query so the pytest gate and the driver query
    certify the identical code path. ~50s at 8 cores."""
    from kiez_spark.driver_queries import q_linkage_f1_lsh_scale

    row = q_linkage_f1_lsh_scale(spark, "").first()
    assert row.f1 >= 0.99, f"bench-scale LSH-tier F1 {row.f1} < 0.99"


def test_checkpoint_resume(spark, files, tmp_path):
    d = str(tmp_path / "ckpt")
    res1 = link_files(spark, files, max_dist=12.0, checkpoint_dir=d)
    got1 = sorted((r.id, r.component) for r in res1.clusters.collect())
    # resume: stages must be read back, not recomputed, and identical
    res2 = link_files(spark, files, max_dist=12.0, checkpoint_dir=d)
    got2 = sorted((r.id, r.component) for r in res2.clusters.collect())
    assert got1 == got2
    ck = res2.checkpointer
    assert ck.is_complete("clusters")
    assert ck.sha_invariant_ok(), "content_sha set changed across stages"
    stages = {r.stage for r in ck.metrics().collect()}
    assert stages == {"embeddings", "candidates", "pairs", "clusters"}
    # per-partition lineage reconciles with stage totals (rows + xor sig)
    assert ck.lineage_consistent()
    pstages = {r.stage for r in ck.partition_metrics().collect()}
    assert pstages == stages


def test_partial_resume(spark, files, tmp_path):
    """Kill-after-stage-2 simulation: precompute two stages, then a fresh
    run must reuse them and complete identically to a clean run."""
    import shutil

    d = str(tmp_path / "ckpt2")
    full = link_files(spark, files, max_dist=12.0, checkpoint_dir=d)
    want = sorted((r.id, r.component) for r in full.clusters.collect())
    # wipe the last two stages -> simulate a crash mid-run
    shutil.rmtree(f"{d}/pairs")
    shutil.rmtree(f"{d}/clusters")
    resumed = link_files(spark, files, max_dist=12.0, checkpoint_dir=d)
    got = sorted((r.id, r.component) for r in resumed.clusters.collect())
    assert got == want


def test_salted_blocking_matches_unsalted(spark, files, emb):
    """Salting a hot key must not change blocked-kNN results."""
    with_lang = emb.join(
        files.select(F.col("row_id").alias("id"), "lang"), "id"
    )
    plain = K.knn_join_blocked(
        with_lang, with_lang, k=3, metric="euclidean",
        block_col="lang", exclude_self=True,
    )
    qs, xs = S.salted_blocks(with_lang, with_lang, key="lang", target_rows=40)
    salted = K.knn_join_blocked(
        qs, xs, k=3, metric="euclidean", block_col="block", exclude_self=True
    )
    got_p = K.topk(plain, 3).select("query_id", "cand_id", "rank")
    got_s = K.topk(salted, 3).select("query_id", "cand_id", "rank")
    assert got_p.exceptAll(got_s).count() == 0
    assert got_s.exceptAll(got_p).count() == 0


def test_alignment_f1_and_hits(spark):
    """Dual-space alignment recovers the planted gold links: mutual-best
    CSLS F1 >= 0.99 and forward hits@1 >= 0.99 (the reference's headline
    hits@k eval, north_rule F1 bar)."""
    from kiez_spark import synth
    from kiez_spark.linkage import align_files
    from kiez_spark.operators import evaluate as E

    src = synth.repos_files(spark, n=400)
    tgt = synth.mutated_copy(src)
    gold = synth.gold_alignment(src)
    res = align_files(spark, src, tgt, hubness="csls", max_dist=12.0)
    f1 = E.pairwise_f1(
        res.matches.select("src_id", "tgt_id"), gold,
        pred_cols=("src_id", "tgt_id"),
    ).first()
    assert f1.f1 >= 0.99, f1
    hits = {r.k: r.hits for r in E.hits_at_k(res.forward, gold, ks=(1, 5)).collect()}
    assert hits[1] >= 0.99 and hits[5] >= hits[1]
    # matches are cross-space only: sources below the offset, targets above
    bad = res.matches.filter("src_id >= 1000000 OR tgt_id < 1000000").count()
    assert bad == 0


def test_alignment_sha_invariant_nonvacuous(spark, tmp_path):
    """The per-corpus sha invariant of align_files must compare >= 2
    sha-carrying stages per group (src_embeddings vs forward, tgt vs
    backward) — and must FAIL when a group mixes the two corpora, whose
    content sets genuinely differ (the mutated copy edits one token per
    non-primary row). Guards against the vacuous single-stage grouping."""
    from kiez_spark import synth
    from kiez_spark.linkage import align_files

    src = synth.repos_files(spark, n=200)
    tgt = synth.mutated_copy(src)
    d = str(tmp_path / "ackpt")
    res = align_files(spark, src, tgt, hubness="csls", checkpoint_dir=d)
    res.matches.count()
    ck = res.checkpointer
    shas = {
        r.stage: r.sha_sig for r in ck.metrics().collect() if r.sha_sig != 0
    }
    # forward/backward carry shas now — each group really compares stages
    assert {"src_embeddings", "forward", "tgt_embeddings", "backward"} <= set(
        shas
    )
    assert shas["src_embeddings"] == shas["forward"]
    assert shas["tgt_embeddings"] == shas["backward"]
    groups = [["src_embeddings", "forward"], ["tgt_embeddings", "backward"]]
    assert ck.sha_invariant_ok(groups=groups)
    # cross-corpus grouping must detect the content difference
    assert not ck.sha_invariant_ok(groups=[["src_embeddings", "tgt_embeddings"]])


def test_alignment_lsh_tier_f1(spark):
    """Dual-space alignment through the LSH blocking tier (both kNN
    directions approximate): mutual-best CSLS F1 >= 0.95. Guards the
    align_files LSH knobs — the uncalibrated PipelineConfig defaults
    (W=2.0) produced ZERO cross-space candidates on this corpus."""
    from kiez_spark import synth
    from kiez_spark.linkage import align_files
    from kiez_spark.operators import evaluate as E

    src = synth.repos_files(spark, n=800)
    tgt = synth.mutated_copy(src)
    res = align_files(spark, src, tgt, hubness="csls", tier="lsh",
                      max_dist=12.0)
    f1 = E.pairwise_f1(
        res.matches.select("src_id", "tgt_id"), synth.gold_alignment(src),
        pred_cols=("src_id", "tgt_id"),
    ).first()
    assert f1.f1 >= 0.95, (f1.f1, f1.tp, f1.fp, f1.fn)
