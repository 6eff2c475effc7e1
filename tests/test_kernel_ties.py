"""Adversarial-tie exactness for the sub-tiled selection kernel.

The pandas-tier kernel selects via an f32 threshold (slab sel-th value),
pools candidates across sub-tiles, pre-cuts at the pooled per-row sel-th
and f64-reranks with (dist, id) tie-breaks. Random-data parity tests
never produce EQUAL distances, so tie handling (<= threshold keeps ties;
lexsort resolves (dist, id)) is exercised here with discrete vectors
where most pair distances collide exactly.
"""

import numpy as np
import pytest

from kiez_spark.operators import knn as K
from kiez_spark.oracle import numpy_oracle as O


def _collect(df):
    return {
        (r["query_id"], r["rank"]): (r["cand_id"], r["dist"])
        for r in df.collect()
    }


def _oracle(mat, k, metric, exclude_self):
    """Numpy-oracle top-k of a self-join over row-index ids."""
    dist, ind = O.knn(mat, mat, k, metric, exclude_self=exclude_self)
    return {
        (i, r + 1): (int(ind[i, r]), float(dist[i, r]))
        for i in range(len(mat))
        for r in range(k)
    }


@pytest.mark.parametrize("metric", ["euclidean", "sqeuclidean", "manhattan"])
@pytest.mark.parametrize("exclude_self", [True, False])
def test_massive_ties_pandas_matches_expr(spark, metric, exclude_self):
    """Vectors drawn from a tiny discrete set: almost every distance value
    is shared by many pairs, so selection must rely on the deterministic
    (dist, cand_id) tie-break everywhere. The reference is the numpy
    oracle (the name predates it; kept for test-id continuity)."""
    rng = np.random.RandomState(5)
    mat = rng.randint(0, 3, size=(120, 4)).astype(np.float64)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(120)]
    df = spark.createDataFrame(rows, "id bigint, vec array<double>")
    k = 7
    exp = _oracle(mat, k, metric, exclude_self)
    got = _collect(
        K.knn_join_pandas(df, df, k, metric, exclude_self=exclude_self)
    )
    assert set(got) == set(exp)
    for key, (cid, dist) in exp.items():
        assert got[key][0] == cid, (key, got[key], (cid, dist))
        assert got[key][1] == pytest.approx(dist, abs=1e-12)


def test_all_identical_vectors(spark):
    """Degenerate extreme: every vector identical -> every distance 0;
    ranks must be purely id-ordered and self excluded."""
    rows = [(i, [1.0, 2.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "id bigint, vec array<double>")
    got = _collect(K.knn_join_pandas(df, df, 3, "euclidean", exclude_self=True))
    for qid in range(30):
        expect_ids = [i for i in range(30) if i != qid][:3]
        assert [got[(qid, r)][0] for r in (1, 2, 3)] == expect_ids
        assert all(got[(qid, r)][1] == 0.0 for r in (1, 2, 3))


def test_small_index_smaller_than_cushion(spark):
    """n < k + cushion: slab covers the whole index; pre-cut is skipped
    (width <= sel); results still exact vs the numpy oracle."""
    rng = np.random.RandomState(9)
    mat = rng.rand(12, 3)
    rows = [(i, [float(x) for x in mat[i]]) for i in range(12)]
    df = spark.createDataFrame(rows, "id bigint, vec array<double>")
    exp = _oracle(mat, 11, "euclidean", exclude_self=True)
    got = _collect(K.knn_join_pandas(df, df, 11, "euclidean", exclude_self=True))
    assert got.keys() == exp.keys()
    for key in exp:
        assert got[key][0] == exp[key][0]
