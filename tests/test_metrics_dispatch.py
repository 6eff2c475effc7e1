"""Round-2 parity additions: element-wise metrics in the kNN kernels,
checked against the numpy oracle, and the full hubness_score dispatch
incl. parametrized Atkinson eps.

Mirrors /root/reference/kiez/neighbors/exact/sklearn_nearest_neighbors.py
(any minkowski p) and /root/reference/kiez/analysis/estimation.py:18-32,
131-149 (array-valued return_values; eps=1 geometric-mean branch).
"""

import numpy as np
import pytest

from kiez_spark.operators import analysis as A
from kiez_spark.operators import knn as K
from kiez_spark.oracle import numpy_oracle as O


def nn_long(spark, nn_ind):
    rows = [
        (int(i), int(r) + 1, int(nn_ind[i, r]))
        for i in range(nn_ind.shape[0])
        for r in range(nn_ind.shape[1])
    ]
    return spark.createDataFrame(rows, "query_id bigint, rank int, cand_id bigint")


def _collect_nn(df):
    return {
        (r["query_id"], r["rank"]): (r["cand_id"], r["dist"])
        for r in df.collect()
    }


def _oracle_nn(d, k, q_ids=None, x_ids=None):
    """Expected {(query_id, rank): (cand_id, dist)} from a full distance
    matrix, ties broken by (dist, cand_id); ids default to row indices."""
    q_ids = np.arange(d.shape[0]) if q_ids is None else q_ids
    x_ids = np.arange(d.shape[1]) if x_ids is None else x_ids
    out = {}
    for i, row in enumerate(d):
        for r, j in enumerate(np.lexsort((x_ids, row))[:k]):
            out[(int(q_ids[i]), r + 1)] = (int(x_ids[j]), float(row[j]))
    return out


@pytest.mark.parametrize(
    "metric",
    ["manhattan", "minkowski_3", "chebyshev", "canberra", "braycurtis",
     "correlation"],
)
def test_pandas_tier_elementwise_metric_matches_expr(
    spark, source_target, source_df, target_df, metric
):
    """The pandas kernel's element-wise branch must agree with the numpy
    oracle exactly on indices and to f64 tolerance on distances. (The
    name predates the oracle reference; it is kept for test-id
    continuity.)"""
    src, tgt = source_target
    exp = _oracle_nn(O.dist_matrix(src, tgt, metric), 5)
    got = _collect_nn(K.knn_join_pandas(source_df, target_df, 5, metric))
    assert set(got) == set(exp)
    for key, (cid, dist) in exp.items():
        gcid, gdist = got[key]
        assert gcid == cid, key
        assert gdist == pytest.approx(dist, rel=1e-9), key


@pytest.mark.parametrize("metric", ["manhattan", "chebyshev", "canberra", "braycurtis"])
def test_blocked_tier_elementwise(spark, source_target, metric):
    """Blocked (cogrouped) tier supports the element-wise family too:
    each block's top-3 equals the numpy oracle over that block."""
    src, tgt = source_target
    rows_q = [(i, [float(x) for x in r], int(i % 2)) for i, r in enumerate(src)]
    rows_x = [(i, [float(x) for x in r], int(i % 2)) for i, r in enumerate(tgt)]
    q = spark.createDataFrame(rows_q, "id bigint, vec array<double>, block int")
    x = spark.createDataFrame(rows_x, "id bigint, vec array<double>, block int")
    got = K.knn_join_blocked(q, x, 3, metric, block_col="block")
    g = {(r["query_id"], r["cand_id"]): r["dist"] for r in got.collect()}
    e = {}
    for b in (0, 1):
        qi = np.arange(len(src))[np.arange(len(src)) % 2 == b]
        xi = np.arange(len(tgt))[np.arange(len(tgt)) % 2 == b]
        d = O.dist_matrix(src[qi], tgt[xi], metric)
        for (qid, _), (cid, dist) in _oracle_nn(d, 3, qi, xi).items():
            e[(qid, cid)] = dist
    assert set(g) == set(e)
    for key in e:
        assert g[key] == pytest.approx(e[key], rel=1e-9)


def test_hamming_quantized_cross_tier(spark, source_target):
    """Hamming over quantized (integer-valued) vectors: pandas kernel ==
    numpy oracle == blocked tier on indices, exactly on distances
    (mismatch counts are integers, /d is the same f64 division
    everywhere)."""
    src, tgt = source_target
    qsrc = np.floor(src * 4.0)
    qtgt = np.floor(tgt * 4.0)
    rows_q = [(i, [float(x) for x in r], 0) for i, r in enumerate(qsrc)]
    rows_x = [(i, [float(x) for x in r], 0) for i, r in enumerate(qtgt)]
    q = spark.createDataFrame(rows_q, "id bigint, vec array<double>, block int")
    x = spark.createDataFrame(rows_x, "id bigint, vec array<double>, block int")
    exp = _oracle_nn(O.dist_matrix(qsrc, qtgt, "hamming"), 5)
    got = _collect_nn(K.knn_join_pandas(q, x, 5, "hamming"))
    assert got == exp
    blk_df = K.knn_join_blocked(q, x, 5, "hamming", block_col="block")
    blk = {(r["query_id"], r["cand_id"]): r["dist"] for r in blk_df.collect()}
    exp_pairs = {(qi, cid): d for (qi, _), (cid, d) in exp.items()}
    assert blk == exp_pairs
    # sanity: distances are mismatch-count/5 fractions in [0, 1]
    assert all(0.0 <= d <= 1.0 and round(d * 5) == d * 5 for _, d in exp.values())


def test_unsupported_metric_raises():
    with pytest.raises(ValueError):
        K._metric_p("mahalanobis-ish")


# every metric name functions.vectors.distance_expr accepts
DISTANCE_EXPR_METRICS = [
    "euclidean", "minkowski", "l2", "sqeuclidean", "cosine", "cos",
    "manhattan", "l1", "cityblock", "chebyshev", "linf", "l_inf",
    "hamming", "canberra", "braycurtis", "correlation", "jaccard", "dice",
    "seuclidean", "minkowski_3", "minkowski_0.5",
]
SEUCLIDEAN_V = np.array([0.5, 1.0, 2.0, 4.0, 0.25])


def test_pipeline_config_rejects_unknown_metric():
    """A misspelled metric fails at configuration, before any Spark job
    starts (the pandas kernel would otherwise raise it inside a
    Python-worker task); every name the kernels accept still passes."""
    from kiez_spark.pipeline import PipelineConfig

    for bad in ("euclidian", "Cosine", "minkowski_x", "minkowski_0"):
        with pytest.raises(ValueError):
            PipelineConfig(metric=bad)
    params = {"seuclidean": {"V": SEUCLIDEAN_V.tolist()},
              "mahalanobis": {"VI": np.eye(5).tolist()}}
    for m in DISTANCE_EXPR_METRICS + ["mahalanobis"]:
        PipelineConfig(metric=m, metric_params=params.get(m))


@pytest.fixture(scope="module")
def expr_pairs(spark):
    """All pairs of 6 x 7 small-valued vectors, with the edge cases the
    metrics guard: a zero vector (cosine/correlation/jaccard), a
    constant row (zero variance), q == -x (braycurtis 0 denominator),
    an identical pair and two empty sets (jaccard/dice 0/0)."""
    rng = np.random.RandomState(3)
    vals = [-1.0, 0.0, 0.5, 2.0]
    q = rng.choice(vals, size=(6, 5))
    x = rng.choice(vals, size=(7, 5))
    q[0] = 0.0
    x[1] = -q[2]
    x[2] = 2.0
    x[3] = q[3]
    x[4] = 0.0
    rows = [(i, j, q[i].tolist(), x[j].tolist())
            for i in range(len(q)) for j in range(len(x))]
    df = spark.createDataFrame(
        rows, "i int, j int, a array<double>, b array<double>"
    )
    return q, x, df


@pytest.mark.parametrize("metric", DISTANCE_EXPR_METRICS)
def test_distance_expr_matches_oracle(expr_pairs, metric):
    """functions.vectors.distance_expr — the LSH rescore and the
    linkage distance gate — equals the numpy oracle's dist_matrix."""
    from pyspark.sql import functions as F

    from kiez_spark.functions.vectors import distance_expr

    q, x, df = expr_pairs
    mp = None
    if metric == "seuclidean":
        mp = {"V": SEUCLIDEAN_V.tolist()}
        s = 1.0 / np.sqrt(SEUCLIDEAN_V)
        want = O.dist_matrix(q * s, x * s, "euclidean")
    else:
        want = O.dist_matrix(q, x, metric)
    got = df.select(
        "i", "j", distance_expr(F.col("a"), F.col("b"), metric, mp).alias("d")
    ).collect()
    assert len(got) == want.size
    for r in got:
        assert r["d"] == pytest.approx(want[r["i"], r["j"]], rel=1e-9, abs=1e-12), (
            r["i"], r["j"],
        )


@pytest.fixture(scope="module")
def nn_small():
    rng = np.random.RandomState(7)
    return rng.randint(0, 100, size=(100, 10)).astype(np.int64)


def test_hubness_score_array_dispatch(spark, nn_small):
    """return_value in {k_occurrence, antihubs, hubs} routes to the
    corresponding table (estimation.py:18-32) instead of ValueError."""
    df = nn_long(spark, nn_small)
    k = 5
    occ = O.k_occurrence(nn_small, 100, k)
    got_occ = A.hubness_score(df, 100, 100, k=k, return_value="k_occurrence")
    got = {r["entity_id"]: r["k_occ"] for r in got_occ.collect()}
    assert got == {i: int(occ[i]) for i in range(len(occ))}

    anti = A.hubness_score(df, 100, 100, k=k, return_value="antihubs")
    assert sorted(r["entity_id"] for r in anti.collect()) == sorted(
        np.argwhere(occ == 0).ravel().tolist()
    )

    hubs = A.hubness_score(df, 100, 100, k=k, return_value="hubs")
    assert sorted(r["entity_id"] for r in hubs.collect()) == sorted(
        np.argwhere(occ >= 2.0 * k).ravel().tolist()
    )


@pytest.mark.parametrize("eps", [0.5, 1.0, 2.0])
def test_atkinson_eps_parity(spark, nn_small, eps):
    df = nn_long(spark, nn_small)
    k = 5
    got = (
        A.hubness_score(df, 100, 100, k=k, return_value="atkinson",
                        atkinson_eps=eps)
        .first()["atkinson"]
    )
    occ = O.k_occurrence(nn_small, 100, k)
    exp = O.atkinson_index(occ, eps=eps)
    assert got == pytest.approx(exp, rel=1e-9, abs=1e-12)


def test_atkinson_eps1_no_zeros(spark):
    """eps=1 geometric-mean branch on an all-positive histogram (the
    non-degenerate case; zeros force the index to 1 on both sides)."""
    nn = np.array([[1, 2], [0, 2], [0, 1], [0, 3], [1, 3], [2, 3]])
    df = nn_long(spark, nn)
    got = (
        A.hubness_score(df, 4, 4, k=2, return_value="atkinson",
                        atkinson_eps=1.0)
        .first()["atkinson"]
    )
    occ = O.k_occurrence(nn, 4, 2)
    assert (occ > 0).all()
    assert got == pytest.approx(O.atkinson_index(occ, eps=1.0), rel=1e-9)


def test_hubness_score_k_clamp_warns(spark, nn_small):
    """k beyond the neighbor-table width clamps with a warning
    (estimation.py:277-281) and equals the k=width result."""
    df = nn_long(spark, nn_small)
    with pytest.warns(UserWarning, match="clamping k"):
        got = A.hubness_score(df, 100, 100, k=20, return_value="robinhood")
    exp = A.hubness_score(df, 100, 100, k=10, return_value="robinhood",
                          n_cols=10)
    assert got.first()["robinhood"] == pytest.approx(
        exp.first()["robinhood"], rel=1e-12
    )


@pytest.mark.parametrize("metric", ["jaccard", "dice"])
def test_boolean_metric_cross_tier_and_formula(spark, source_target, metric):
    """Boolean jaccard/dice over binarized vectors: numpy oracle ==
    pandas == blocked exactly (counts are integers; the one divide is
    correctly rounded everywhere), and the kernel matches the scipy
    set-formula computed pair by pair."""
    src, tgt = source_target
    bsrc = (src > 0.5).astype(np.float64)
    btgt = (tgt > 0.5).astype(np.float64)
    rows_q = [(i, [float(x) for x in r], 0) for i, r in enumerate(bsrc)]
    rows_x = [(i, [float(x) for x in r], 0) for i, r in enumerate(btgt)]
    q = spark.createDataFrame(rows_q, "id bigint, vec array<double>, block int")
    x = spark.createDataFrame(rows_x, "id bigint, vec array<double>, block int")
    exp = _oracle_nn(O.dist_matrix(bsrc, btgt, metric), 5)
    got = _collect_nn(K.knn_join_pandas(q, x, 5, metric))
    assert got == exp
    blk_df = K.knn_join_blocked(q, x, 5, metric, block_col="block")
    blk = {(r["query_id"], r["cand_id"]): r["dist"] for r in blk_df.collect()}
    exp_pairs = {(qi, cid): d for (qi, _), (cid, d) in exp.items()}
    assert blk == exp_pairs
    # scipy formula reference: ctf+cft over union (jaccard) / bit-sum (dice)
    for (qi, _rank), (cid, d) in got.items():
        a, b = bsrc[qi], btgt[cid]
        ctt = float((a * b).sum())
        num = float(np.abs(a - b).sum())
        den = (a.sum() + b.sum() - ctt) if metric == "jaccard" else (
            a.sum() + b.sum()
        )
        want = num / den if den else 0.0
        assert d == pytest.approx(want, abs=1e-12), (qi, cid)


def test_boolean_metric_zero_vectors(spark):
    # identical empty sets -> distance 0 (both engines' floored-den
    # convention); empty vs non-empty -> 1
    rows = [(0, [0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "id bigint, vec array<double>")
    for metric in ("jaccard", "dice"):
        got = {
            (r["query_id"], r["cand_id"]): r["dist"]
            for r in K.knn_join_pandas(
                df, df, 3, metric, exclude_self=True
            ).collect()
        }
        assert got[(0, 1)] == 0.0
        assert got[(0, 2)] == 1.0
        assert got[(2, 0)] == 1.0


def test_seuclidean_cross_tier_and_formula(spark, source_target, source_df, target_df):
    """seuclidean with data-derived per-dim variances: the pandas kernel
    equals the top-5 of the sklearn formula sqrt(sum (a-b)^2 / V),
    computed in numpy, on indices and to f64 tolerance on distances."""
    src, tgt = source_target
    V = np.var(np.vstack([src, tgt]), axis=0)
    mp = {"V": [float(v) for v in V]}
    d = np.sqrt((((src[:, None, :] - tgt[None, :, :]) ** 2) / V).sum(2))
    exp = _oracle_nn(d, 5)
    got = _collect_nn(
        K.knn_join_pandas(source_df, target_df, 5, "seuclidean", metric_params=mp)
    )
    assert set(got) == set(exp)
    for key, (cid, dist) in exp.items():
        gcid, gdist = got[key]
        assert gcid == cid, key
        assert gdist == pytest.approx(dist, rel=1e-9), key


def test_seuclidean_requires_V(spark, source_df, target_df):
    from kiez_spark.pipeline import PipelineConfig

    with pytest.raises(ValueError, match="seuclidean"):
        K.knn_join_pandas(source_df, target_df, 5, "seuclidean")
    with pytest.raises(ValueError, match="seuclidean"):
        PipelineConfig(metric="seuclidean")


def test_pipeline_seuclidean_pandas_tier(spark, source_df, target_df, source_target):
    """The engine surface: HubnessKnn(metric='seuclidean') through the
    pandas tier equals the direct join call."""
    from kiez_spark.pipeline import HubnessKnn, PipelineConfig

    src, tgt = source_target
    V = [float(v) for v in np.var(np.vstack([src, tgt]), axis=0)]
    eng = HubnessKnn(
        PipelineConfig(
            n_candidates=5, k=5, metric="seuclidean",
            metric_params={"V": V}, tier="pandas",
        )
    )
    eng.fit(source_df, target_df)
    got = _collect_nn(eng.kneighbors(5).select("query_id", "cand_id", "dist", "rank"))
    exp = _collect_nn(
        K.knn_join_pandas(
            source_df, target_df, 5, "seuclidean", metric_params={"V": V}
        )
    )
    for key, (cid, dist) in exp.items():
        gcid, gdist = got[key]
        assert gcid == cid and gdist == pytest.approx(dist, rel=1e-12), key


def test_mahalanobis_cross_tier_and_formula(spark, source_target, source_df, target_df):
    """Mahalanobis with a literal SPD inverse covariance: the pandas
    kernel's Cholesky input fold equals the top-5 of the direct
    sqrt((a-b)' VI (a-b)) quadratic form on indices and to f64
    tolerance on distances."""
    src, tgt = source_target
    d = src.shape[1]
    vi = np.eye(d)
    for i in range(d):
        vi[i, i] = 1.0 + (i % 3) * 0.5
        if i + 1 < d:
            vi[i, i + 1] = vi[i + 1, i] = 0.2
    mp = {"VI": vi.tolist()}
    diff = src[:, None, :] - tgt[None, :, :]
    exp = _oracle_nn(np.sqrt(np.einsum("qxi,ij,qxj->qx", diff, vi, diff)), 5)
    got = _collect_nn(
        K.knn_join_pandas(source_df, target_df, 5, "mahalanobis", metric_params=mp)
    )
    assert set(got) == set(exp)
    for key, (cid, dist) in exp.items():
        gcid, gdist = got[key]
        assert gcid == cid, key
        assert gdist == pytest.approx(dist, rel=1e-9), key


def test_mahalanobis_requires_VI(spark, source_df, target_df):
    from kiez_spark.pipeline import PipelineConfig

    with pytest.raises(ValueError, match="mahalanobis"):
        K.knn_join_pandas(source_df, target_df, 5, "mahalanobis")
    with pytest.raises(ValueError, match="mahalanobis"):
        PipelineConfig(metric="mahalanobis")
