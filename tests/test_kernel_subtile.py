"""Sub-tile-path exactness for the blocked selection kernel.

Every other kernel test runs with n <= the 8192-column slab, so the
slab-threshold + resident-sub-tile + f32-pre-cut machinery
(knn.py query_chunk) is never engaged there. Here the index is 9500 rows
— slab of 8192 plus sub-tile blocks — and every metric family (GEMM,
cosine, and the full element-wise tail incl. the dual-accumulator
braycurtis) must reproduce the numpy oracle's full-matrix f64 top-k
exactly, with the deterministic (dist, id) tie-break. Pure numpy: no
Spark session, runs in seconds.
"""

import numpy as np
import pytest

from kiez_spark.operators import knn as K
from kiez_spark.oracle import numpy_oracle as O

N_INDEX = 9500  # > tile (8192): forces slab + sub-tile streaming
N_QUERY = 40
DIM = 6
K_NN = 5


@pytest.fixture(scope="module")
def data():
    rng = np.random.RandomState(11)
    xm = rng.randn(N_INDEX, DIM)
    # a few exact zeros / sign flips so the canberra 0/0 and braycurtis
    # near-zero-denominator guards actually fire
    xm[::97, 0] = 0.0
    xm[1::511] = -xm[::511][: xm[1::511].shape[0]]
    qm = rng.randn(N_QUERY, DIM)
    qm[::7, 0] = 0.0
    x_ids = np.arange(N_INDEX, dtype=np.int64)
    q_ids = np.arange(N_QUERY, dtype=np.int64) + 1_000_000
    return q_ids, qm, x_ids, xm


def naive_topk(q_ids, qm, x_ids, xm, k, metric):
    d = O.dist_matrix(qm, xm, metric)
    out = {}
    for i in range(len(q_ids)):
        order = np.lexsort((x_ids, d[i]))[:k]
        out[q_ids[i]] = [(x_ids[j], d[i, j]) for j in order]
    return out


METRICS = [
    "euclidean",
    "sqeuclidean",
    "cosine",
    "manhattan",
    "minkowski_3",
    "chebyshev",
    "canberra",
    "braycurtis",
    "correlation",
]


@pytest.mark.parametrize("metric", METRICS)
def test_subtile_kernel_matches_naive(data, metric):
    q_ids, qm, x_ids, xm = data
    kern = K._BruteKnnKernel(x_ids, xm, K_NN, metric, exclude_self=False)
    assert kern.tile == 8192 and kern.tile < N_INDEX  # sub-tiles engaged
    got = kern.query(q_ids, qm)
    exp = naive_topk(q_ids, qm, x_ids, xm, K_NN, metric)
    assert len(got) == N_QUERY * K_NN
    for qid, grp in got.groupby("query_id"):
        grp = grp.sort_values("rank")
        for (cid, dist), (ecid, edist) in zip(
            zip(grp["cand_id"], grp["dist"]), exp[qid]
        ):
            assert cid == ecid, (metric, qid)
            assert dist == pytest.approx(edist, rel=1e-12, abs=1e-12)


def test_subtile_kernel_hamming_quantized(data):
    """Hamming needs integer-valued dims to be meaningful; mismatch
    counts are exact in f32 so kernel == naive bit-for-bit."""
    q_ids, qm, x_ids, xm = data
    qq = np.floor(qm * 2.0)
    xx = np.floor(xm * 2.0)
    kern = K._BruteKnnKernel(x_ids, xx, K_NN, "hamming", exclude_self=False)
    got = kern.query(q_ids, qq)
    exp = naive_topk(q_ids, qq, x_ids, xx, K_NN, "hamming")
    for qid, grp in got.groupby("query_id"):
        grp = grp.sort_values("rank")
        for (cid, dist), (ecid, edist) in zip(
            zip(grp["cand_id"], grp["dist"]), exp[qid]
        ):
            assert cid == ecid and dist == edist, qid


def test_subtile_kernel_exclude_self(data):
    """Self-exclusion across the slab/sub-tile boundary: query ids that
    collide with index ids in BOTH regions must be masked."""
    _, qm, x_ids, xm = data
    # queries ARE index rows: some in the slab (< 8192), some beyond it
    pick = np.array([0, 5000, 8191, 8192, 9000, 9499])
    kern = K._BruteKnnKernel(x_ids, xm, K_NN, "braycurtis", exclude_self=True)
    got = kern.query(x_ids[pick], xm[pick])
    assert not any(got["query_id"] == got["cand_id"])
    assert len(got) == len(pick) * K_NN


def test_self_join_distances_symmetric():
    """In a self-join the euclidean rerank gives d(i, j) and d(j, i) the
    same bits, so a transform that cancels near zero (DSL's shift, then
    sqrt) cannot turn a 1-ulp asymmetry into a ~1e-8 difference between
    the two directions of one pair."""
    rng = np.random.RandomState(42)
    xm = rng.rand(300, 16)
    ids = np.arange(300, dtype=np.int64)
    got = K._BruteKnnKernel(ids, xm, 10, "euclidean", exclude_self=True).query(
        ids, xm
    )
    d = {(a, b): v for a, b, v in zip(got["query_id"], got["cand_id"], got["dist"])}
    mutual = [(a, b) for (a, b) in d if a < b and (b, a) in d]
    assert len(mutual) > 100
    assert all(d[(a, b)] == d[(b, a)] for a, b in mutual)
