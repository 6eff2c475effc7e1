"""Recall GATES (not just reports) for the approximate tiers, mirroring
the reference's exact-vs-approx test semantics
(/root/reference/tests/neighbors/test_faiss.py:22-46): fixed seeds, a
clustered dataset the approximate index is designed for, and a hard
floor assertion so recall regressions fail CI instead of drifting.
"""

import numpy as np
import pytest

from kiez_spark.operators import dedup as D
from kiez_spark.operators import knn as K
from kiez_spark.operators import lsh as L


@pytest.fixture(scope="module")
def clustered_pts():
    """300 points in 12 tight gaussian clusters (dim 16, seed 7) — the
    regime LSH bucketing is built for."""
    rng = np.random.RandomState(7)
    centers = rng.randn(12, 16) * 4.0
    return centers[np.arange(300) % 12] + rng.randn(300, 16) * 0.15


@pytest.fixture(scope="module")
def clustered_df(spark, clustered_pts):
    rows = [(i, [float(x) for x in p]) for i, p in enumerate(clustered_pts)]
    return spark.createDataFrame(rows, "id bigint, vec array<double>").cache()


def test_lsh_recall_floor(spark, clustered_pts, clustered_df, oracle_nn_df):
    exact = oracle_nn_df(np.arange(300), clustered_pts, 5, "cosine")
    approx = K.topk(
        L.lsh_candidates(clustered_df, clustered_df, "cosine",
                         n_tables=8, n_bits=8, seed=42, exclude_self=True),
        5,
    )
    recall = L.lsh_recall(approx, exact)
    assert recall >= 0.8, f"LSH recall regressed: {recall:.3f}"


def test_embedding_neardup_approx_recall(spark):
    """Planted near-duplicates: every base vector gets a tiny-noise copy.
    The LSH near-dup tier must recover >= 90% of the exact pair set."""
    rng = np.random.RandomState(11)
    base = rng.randn(150, 16)
    dup = base + rng.randn(150, 16) * 0.01
    rows = [(i, [float(x) for x in base[i]]) for i in range(150)]
    rows += [(1000 + i, [float(x) for x in dup[i]]) for i in range(150)]
    emb = spark.createDataFrame(rows, "id bigint, vec array<double>").cache()

    exact = D.embedding_neardup_pairs(emb, max_cos_dist=0.01, approx=False)
    approx = D.embedding_neardup_pairs(
        emb, max_cos_dist=0.01, approx=True, n_tables=8, n_bits=8, seed=42
    )
    e = {(r["src_id"], r["tgt_id"]) for r in exact.collect()}
    a = {(r["src_id"], r["tgt_id"]) for r in approx.collect()}
    assert len(e) >= 150  # every planted pair is a near-dup
    assert not a - e  # approx pairs are verified exact — no false positives
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"near-dup LSH recall regressed: {recall:.3f}"


def test_neardup_auto_tier_small_input_is_exact(spark):
    """approx=None on a small input takes the exact path (same result as
    approx=False)."""
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "id bigint, vec array<double>")
    auto = D.embedding_neardup_pairs(emb, max_cos_dist=0.5)
    exact = D.embedding_neardup_pairs(emb, max_cos_dist=0.5, approx=False)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, exact.collect()))


def test_neardup_auto_tier_large_input_warns(spark, monkeypatch):
    """Auto mode past the exact-tier cap switches to LSH with a warning,
    and an n_rows hint skips the eager count() job."""
    import warnings as W

    monkeypatch.setattr(D, "EXACT_NEARDUP_MAX_ROWS", 30)
    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "id bigint, vec array<double>")
    with pytest.warns(UserWarning, match="LSH tier"):
        D.embedding_neardup_pairs(emb, max_cos_dist=0.5)
    # hint path: no count() (plan builds even on an unresolvable-count
    # stand-in) and tier decided from the hint alone
    with W.catch_warnings():
        W.simplefilter("error")
        df = D.embedding_neardup_pairs(emb, max_cos_dist=0.5, n_rows=10)
    assert "cos_dist" in df.columns  # exact tier, built lazily


def test_lsh_topk_equals_naive_form(spark, clustered_df):
    """lsh_topk (bucket-local kernel top-k) must produce EXACTLY the
    rows of topk(lsh_candidates(...), k) — same candidates, same exact
    distances, same (dist, cand_id) ranking — for both metric families
    (sign-bit and bucketed projections)."""
    for metric, kw in (
        ("cosine", dict(n_tables=8, n_bits=8)),
        ("euclidean", dict(n_tables=8, n_bits=6, bucket_width=8.0)),
    ):
        naive = K.topk(
            L.lsh_candidates(clustered_df, clustered_df, metric,
                             exclude_self=True, **kw),
            5,
        ).select("query_id", "cand_id", "rank")
        fast = L.lsh_topk(
            clustered_df, clustered_df, 5, metric, exclude_self=True, **kw
        ).select("query_id", "cand_id", "rank")
        assert naive.exceptAll(fast).count() == 0, metric
        assert fast.exceptAll(naive).count() == 0, metric
