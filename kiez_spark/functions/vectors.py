"""Vector math as Spark SQL column expressions over ARRAY<DOUBLE>.

These stay JVM-side (whole-stage codegen). They score pairs that are
already known — the LSH rescore (operators/lsh.py ``_rescore``) and the
linkage distance gate (linkage.py); all-pairs kNN runs in the numpy
kernels of operators/knn.py.

Metric semantics mirror the reference's metric normalizations
(/root/reference/kiez/neighbors/approximate/faiss.py:122-156,
 nmslib.py:151-158): cosine distance = 1 - cosine similarity,
 sqeuclidean = euclidean**2.

The Gaussian survival function needed by MutualProximity(normal)
(/root/reference/kiez/hubness_reduction/mutual_proximity.py:179-183,
 scipy.stats.norm.sf) is built on an Abramowitz & Stegun 7.1.26 erfc
approximation (max abs error ~1.5e-7) because neither Spark SQL nor the
sandbox's DuckDB exposes erf/erfc; the identical polynomial is used in the
DuckDB oracle SQL so both engines agree bit-for-bit after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def vec_as_double(col: Column | str) -> Column:
    """Cast ARRAY<FLOAT> parquet columns to ARRAY<DOUBLE> for stable math."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def sqeuclidean(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(sqeuclidean(a, b))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cos_sim; guards zero vectors (distance 1.0 like 'orthogonal')."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(1.0)).otherwise(
        F.lit(1.0) - dot(a, b) / denom
    )


def hamming(a: Column, b: Column) -> Column:
    """Fraction of differing elements — sklearn's boolean/hamming family
    (the reference's exact tier accepts it by name,
    sklearn_nearest_neighbors.py:51-101). Meaningful on quantized /
    categorical vectors; on continuous data everything differs."""
    ne = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 0.0).otherwise(1.0)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return ne / F.size(a).cast("double")


def canberra(a: Column, b: Column) -> Column:
    """Weighted L1: sum_i |a_i - b_i| / (|a_i| + |b_i|), 0/0 terms = 0
    (scipy's convention; the reference's sklearn exact tier accepts it by
    name, sklearn_nearest_neighbors.py:51-101)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.when(
                F.abs(x) + F.abs(y) == 0.0, F.lit(0.0)
            ).otherwise(F.abs(x - y) / (F.abs(x) + F.abs(y))),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def correlation(a: Column, b: Column) -> Column:
    """Correlation distance = cosine distance over row-centered vectors
    (scipy's definition; the reference's sklearn exact tier accepts it
    by name, sklearn_nearest_neighbors.py:51-101), in the ALGEBRAIC form
    cov(a,b)/sqrt(var(a)var(b)) built from five flat O(d) aggregates.
    Do NOT write this as cosine(transform(a, x -> x - aggregate(a,...)))
    — referencing the mean aggregate inside the per-element lambda
    duplicates it d times, a 4096-node expression tree at d=64 whose
    codegen takes minutes (measured: a pipeline-level hang). Zero-
    variance rows take the zero-norm cosine convention (distance 1.0 —
    scipy yields nan there; a defined max-distance for no-information
    rows is the engine-wide convention, identical in every tier and in
    the DuckDB oracle).

    Accuracy limitation of the algebraic form: when vectors carry a large
    common offset (|mean| >> spread) the cov/var subtractions cancel
    catastrophically, so this expression can disagree with the
    row-centered pandas/blocked kernels beyond the usual 1e-9 parity on
    such data (roughly |mean|/spread > 1e6). The ratio is clamped into
    [-1, 1] below so even degenerate inputs stay in the valid distance
    range [0, 2]; offset-heavy corpora should center the vectors upstream
    (the pandas/blocked kernels center rows exactly)."""
    d = F.size(a).cast("double")
    sa = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
    sb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x)
    cov = dot(a, b) - sa * sb / d
    va = dot(a, a) - sa * sa / d
    vb = dot(b, b) - sb * sb / d
    denom = F.sqrt(F.greatest(va, F.lit(0.0)) * F.greatest(vb, F.lit(0.0)))
    r = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cov / denom))
    return F.when(denom == 0.0, F.lit(1.0)).otherwise(F.lit(1.0) - r)


def braycurtis(a: Column, b: Column) -> Column:
    """Bray-Curtis dissimilarity: sum_i |a_i - b_i| / sum_i |a_i + b_i|
    (scipy's convention; the reference's sklearn exact tier accepts it by
    name, sklearn_nearest_neighbors.py:51-101). The all-zero-denominator
    edge (a == -b everywhere) is guarded with a 1e-300 floor — identical
    to the kernel's f64 rerank, so cross-tier parity holds there too."""
    num = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x + y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return num / F.greatest(den, F.lit(1e-300))


def _bool_mismatch(a: Column, b: Column) -> Column:
    """CTF + CFT over binarized vectors (x != 0 as True) — the shared
    numerator of jaccard() and dice(). One definition so a future change
    to the binarization convention cannot make the two metrics silently
    diverge. Integer-valued in f64, hence bit-exact across engines."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.when((x != 0.0) == (y != 0.0), 0.0).otherwise(1.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def jaccard(a: Column, b: Column) -> Column:
    """Boolean Jaccard dissimilarity (sklearn/scipy convention over
    binarized vectors, x != 0 as True; the reference's sklearn exact
    tier accepts it by name, sklearn_nearest_neighbors.py:51-101):
    (CTF + CFT) / (CTT + CTF + CFT) — mismatches over the union of set
    bits. Meaningful on quantized/boolean vectors (see knn_join_pandas'
    quantization precondition). Both counts are exactly-representable
    integers in f64 and the single divide is correctly rounded, so the
    value is bit-exact across engines. The all-False/all-False edge
    (den 0, num 0) is floored like braycurtis — 0/1e-300 = 0.0, the
    'identical empty sets' convention, identical in every tier and the
    SQL oracle."""
    num = _bool_mismatch(a, b)
    den = F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: F.when((x != 0.0) | (y != 0.0), 1.0).otherwise(0.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return num / F.greatest(den, F.lit(1e-300))


def dice(a: Column, b: Column) -> Column:
    """Boolean Dice dissimilarity over binarized vectors (x != 0 as
    True): (CTF + CFT) / (2*CTT + CTF + CFT). Equals Bray-Curtis over
    the 0/1 indicator vectors (|x-y| = XOR, |x+y| = bit sum), which is
    exactly how the numpy kernels compute it — integer counts, one
    correctly rounded divide, bit-exact across engines; 0-denominator
    floored to 1e-300 like braycurtis/jaccard."""
    num = _bool_mismatch(a, b)
    den = F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x != 0.0).cast("double") + (y != 0.0).cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return num / F.greatest(den, F.lit(1e-300))


def seuclidean(a: Column, b: Column, V) -> Column:
    """Standardized euclidean: sqrt(sum_i (a_i - b_i)^2 / V_i) with a
    per-dimension variance (weight) vector ``V`` — the reference's
    sklearn exact tier accepts it with metric_params={'V': ...}
    (sklearn_nearest_neighbors.py:51-101). Computed as plain euclidean
    over inputs scaled by 1/sqrt(V_i) — the SAME rewrite every kernel
    tier applies (knn.seuclidean_scale), so cross-tier parity is the
    euclidean parity already certified."""
    import math

    s = F.array(*[F.lit(1.0 / math.sqrt(float(v))) for v in V])
    return euclidean(
        F.zip_with(a, s, lambda x, w: x * w),
        F.zip_with(b, s, lambda x, w: x * w),
    )


def chebyshev(a: Column, b: Column) -> Column:
    """L-infinity: max_i |a_i - b_i| (minkowski p=inf limit; the
    reference's sklearn exact tier accepts it by name,
    sklearn_nearest_neighbors.py:51-101)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )


def minkowski(a: Column, b: Column, p: float) -> Column:
    """General minkowski-p (the reference's sklearn backend supports any
    p, sklearn_nearest_neighbors.py; p=2 aliases to euclidean like
    random_projection_trees.py:86-87; p=inf is chebyshev)."""
    if p == float("inf"):
        return chebyshev(a, b)
    if p == 2:
        return euclidean(a, b)
    if p == 1:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.abs(x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    s = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.pow(F.abs(x - y), F.lit(float(p)))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.pow(s, F.lit(1.0 / float(p)))


def distance_expr(
    a: Column, b: Column, metric: str, metric_params: dict | None = None
) -> Column:
    if metric in ("euclidean", "minkowski", "l2"):
        return euclidean(a, b)
    if metric == "sqeuclidean":
        return sqeuclidean(a, b)
    if metric in ("cosine", "cos"):
        return cosine_distance(a, b)
    if metric in ("manhattan", "l1", "cityblock"):
        return minkowski(a, b, 1)
    if metric in ("chebyshev", "linf", "l_inf"):
        return chebyshev(a, b)
    if metric == "hamming":
        return hamming(a, b)
    if metric == "canberra":
        return canberra(a, b)
    if metric == "braycurtis":
        return braycurtis(a, b)
    if metric == "correlation":
        return correlation(a, b)
    if metric == "jaccard":
        return jaccard(a, b)
    if metric == "dice":
        return dice(a, b)
    if metric == "seuclidean":
        V = (metric_params or {}).get("V")
        if V is None:
            raise ValueError(
                "metric='seuclidean' requires metric_params={'V': [per-dim"
                " variances]}"
            )
        return seuclidean(a, b, V)
    if metric.startswith("minkowski_"):
        return minkowski(a, b, float(metric.split("_", 1)[1]))
    raise ValueError(f"unsupported metric: {metric}")


# Abramowitz & Stegun 7.1.26 constants (public domain handbook).
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _erfc_pos(x: Column) -> Column:
    """erfc(x) for x >= 0 via A&S 7.1.26."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        F.lit(_AS_A[0]) * t
        + F.lit(_AS_A[1]) * t * t
        + F.lit(_AS_A[2]) * t * t * t
        + F.lit(_AS_A[3]) * t * t * t * t
        + F.lit(_AS_A[4]) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


def erfc_expr(x: Column) -> Column:
    """erfc(x) for any sign: erfc(-x) = 2 - erfc(x)."""
    return F.when(x >= 0, _erfc_pos(x)).otherwise(F.lit(2.0) - _erfc_pos(-x))


def normal_sf(x: Column, mu: Column, sigma: Column) -> Column:
    """Gaussian survival function P(X > x) for X ~ N(mu, sigma).

    Mirrors scipy.stats.norm.sf as used by the reference
    (mutual_proximity.py:179-183). sigma == 0 degenerates to a step
    function (0.5 at x == mu), matching the scipy limit convention
    closely enough for parity (random inputs never hit sigma == 0).
    """
    z = (x - mu) / sigma
    return F.lit(0.5) * erfc_expr(z / F.lit(1.4142135623730951))
