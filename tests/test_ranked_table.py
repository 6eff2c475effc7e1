"""The engine's ranked table carries the kNN pass's own distance, and the
pandas tier's reverse statistics come from the kernel's columns.

``HubnessKnn.ranked`` keeps each pair's primary distance as ``raw_dist``
through every hubness transform and the top-k; linkage gates on it
instead of re-joining the vectors. csls, nicdm and ls read the reverse
statistic off the rank-1 row of each reverse query when the kernel
emitted row_mean/row_max, in place of a groupBy."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kiez_spark.operators import hubness as H
from kiez_spark.oracle import numpy_oracle as O
from kiez_spark.pipeline import HUBNESS_METHODS, HubnessKnn, PipelineConfig

N_CAND, K = 6, 3
TOL = 1e-12


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.RandomState(3)
    return rng.rand(90, 8)


@pytest.fixture(scope="module")
def vec_df(spark, vectors):
    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vectors)]
    return spark.createDataFrame(
        rows, "id bigint, vec array<double>, block int"
    ).cache()


def _engine(method, tier):
    return HubnessKnn(PipelineConfig(
        n_candidates=N_CAND, k=K, hubness=method, tier=tier,
        block_col="block" if tier == "blocked" else None,
    ))


def _split(vec_df, dual):
    if not dual:
        return vec_df, None
    return vec_df.filter("id % 2 = 0"), vec_df.filter("id % 2 = 1")


# every method on every tier it allows, single source; the pandas tier
# (whose reverse table is a second kernel pass) also dual source
CASES = [
    (m, t, False) for m in HUBNESS_METHODS for t in ("pandas", "blocked", "lsh")
    if not (t == "lsh" and m in ("mp_empiric", "dsl"))
] + [(m, "pandas", True) for m in HUBNESS_METHODS]


@pytest.mark.parametrize("method, tier, dual", CASES)
def test_raw_dist_is_the_candidate_distance(spark, vectors, vec_df, method,
                                            tier, dual):
    src, tgt = _split(vec_df, dual)
    eng = _engine(method, tier)
    eng.fit(src, tgt)
    try:
        # kneighbors is the documented projection of the ranked table
        assert eng.kneighbors(K).columns == ["query_id", "cand_id", "dist",
                                             "rank"]
        ranked = eng.ranked(K).collect()
        cands = {
            (r.query_id, r.cand_id): r.dist
            for r in eng._candidates(
                eng.source_, eng.target_, N_CAND, eng.single_source
            ).collect()
        }
    finally:
        eng.release()
    assert ranked
    want = O.dist_matrix(vectors, vectors, "euclidean")
    for r in ranked:
        assert r.raw_dist == pytest.approx(
            cands[(r.query_id, r.cand_id)], rel=TOL, abs=TOL
        )
        assert r.raw_dist == pytest.approx(
            want[r.query_id, r.cand_id], rel=TOL, abs=TOL
        )


STATS = {"csls": (F.avg, "row_mean"), "nicdm": (F.avg, "row_mean"),
         "ls": (F.max, "row_max")}


@pytest.mark.parametrize("dual", [False, True], ids=["single", "dual"])
@pytest.mark.parametrize("method", sorted(STATS))
def test_kernel_reverse_stats_equal_groupby(spark, vec_df, method, dual):
    src, tgt = _split(vec_df, dual)
    eng = _engine(method, "pandas")
    eng.fit(src, tgt)
    t2s = eng._candidates(
        eng.target_, eng.source_, N_CAND, eng.single_source
    ).cache()
    try:
        agg_fn, col = STATS[method]
        assert {col, "rank"} <= set(t2s.columns)
        kernel = dict(H._reverse_stats(t2s, agg_fn, col, "r").collect())
        grouped = dict(H._reverse_stats(
            t2s.select("query_id", "cand_id", "dist"), agg_fn, col, "r"
        ).collect())
    finally:
        t2s.unpersist()
        eng.release()
    assert kernel.keys() == grouped.keys() and kernel
    for cid, v in grouped.items():
        assert kernel[cid] == pytest.approx(v, rel=TOL, abs=TOL)
