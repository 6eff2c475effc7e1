"""Property-based invariants (hypothesis) for the scalar-measure formulas
and the numpy oracle — replicating the reference's implementation-
equivalence test style (tests/analysis/test_estimation.py:46-52) over
randomized inputs instead of one fixture."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kiez_spark.oracle import numpy_oracle as O

k_occ_arrays = st.lists(
    st.integers(min_value=0, max_value=50), min_size=3, max_size=80
).filter(lambda xs: sum(xs) > 0)


@settings(max_examples=200, deadline=None)
@given(k_occ_arrays)
def test_gini_sort_form_equals_pairwise(xs):
    x = np.array(xs, dtype=np.int64)
    pairwise = np.abs(x[:, None] - x[None, :]).sum() / (2 * x.size * x.sum())
    assert abs(O.gini_index(x) - pairwise) < 1e-9


@settings(max_examples=200, deadline=None)
@given(k_occ_arrays)
def test_robinhood_bounds_and_translation(xs):
    x = np.array(xs, dtype=np.float64)
    r = O.robinhood_index(x)
    assert 0.0 <= r <= 1.0
    # scaling invariance: robinhood(c*x) == robinhood(x)
    assert abs(O.robinhood_index(3 * x) - r) < 1e-12


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=2, max_value=12),  # n entities
    st.integers(min_value=1, max_value=5),   # k
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_knn_topk_is_true_topk(n, k, seed):
    rng = np.random.RandomState(seed)
    x = rng.rand(n, 4)
    k = min(k, n - 1)
    dist, ind = O.knn(x, x, k, "euclidean", exclude_self=True)
    # every returned neighbor is closer-or-equal to every excluded one
    full = O.dist_matrix(x, x, "euclidean")
    np.fill_diagonal(full, np.inf)
    for i in range(n):
        excluded = sorted(set(range(n)) - set(ind[i]) - {i})
        if excluded:
            assert dist[i].max() <= full[i, excluded].min() + 1e-12
    # rows sorted ascending with deterministic ties
    assert (np.diff(dist, axis=1) >= -1e-15).all()


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_hubness_transforms_preserve_candidate_sets(seed):
    """Transforms rescale distances but never change WHICH candidates are
    in the pool — only their order (reference contract: transform returns
    unsorted rescored dists over the same neigh_ind)."""
    rng = np.random.RandomState(seed)
    src, tgt = rng.rand(8, 4), rng.rand(12, 4)
    for method in ("csls", "ls", "nicdm", "mp_normal", "dsl"):
        d, i = O.hubness_pipeline(src, tgt, 3, 6, method)
        d0, i0 = O.knn(src, tgt, 6, "euclidean")
        for row in range(8):
            assert set(i[row]) <= set(i0[row]), method


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40
)


@settings(max_examples=200, deadline=None)
@given(edge_lists)
def test_local_components_match_union_find(edges):
    """The driver finish of connected_components labels every edge id
    with its component's min id."""
    from kiez_spark.operators import clustering as C

    kept = [(a, b) for a, b in edges if a != b]
    u = np.array([a for a, _ in kept], dtype=np.int64)
    v = np.array([b for _, b in kept], dtype=np.int64)
    ids, comp = C._local_components(u, v)
    assert dict(zip(ids.tolist(), comp.tolist())) == O.components(edges)


@settings(max_examples=8, deadline=None)
@given(edge_lists, st.integers(0, 45))
def test_connected_components_match_union_find(spark, edges, limit):
    """Random edge lists and driver-edge limits: a limit below the
    input's edge count sends it through the star rounds, any other
    through the driver finish."""
    from unittest import mock

    from kiez_spark.operators import clustering as C

    pairs = spark.createDataFrame(edges, "src_id bigint, tgt_id bigint")
    nodes = spark.createDataFrame([(i,) for i in range(32)], "id bigint")
    with mock.patch.object(C, "_LOCAL_EDGES", limit):
        got = {r.id: r.component for r in C.connected_components(pairs, nodes).collect()}
    assert got == O.components(edges, range(32))
