"""Vendored single-node numpy oracle for parity testing.

Reimplements the reference's math (formulas from
/root/reference/kiez/hubness_reduction/*.py and kiez/analysis/estimation.py;
written from the equations, not the code) so Spark results can be checked
without sklearn/scipy/faiss, which are absent in this environment.

Deviations from the reference, by design (documented in SURVEY.md §7):
- deterministic tie-break (dist, id) everywhere the reference relies on
  unstable argpartition order (base.py:81-86);
- self-pairs are always excluded in single-source mode (the reference's
  Faiss backend does not, faiss.py:146-149 — an inconsistency across its
  own backends);
- Gaussian sf uses math.erfc (exact) — tests compare the Spark engine's
  polynomial erfc against this at 1e-5 tolerance.
"""

from __future__ import annotations

import math

import numpy as np

_SQRT2 = math.sqrt(2.0)


# 0-denominator floor of canberra/braycurtis/jaccard/dice, the engine-wide
# convention: 0/0 terms come out 0, never nan
_TINY = 1e-300


def dist_matrix(q: np.ndarray, x: np.ndarray, metric: str) -> np.ndarray:
    """(len(q), len(x)) float64 distances for every metric name the kNN
    kernels accept, written from the scipy/sklearn formulas. The
    element-wise family broadcasts a (len(q), len(x), d) array: sized
    for test inputs. seuclidean/mahalanobis are euclidean over inputs
    the caller has scaled (x / sqrt(V), x @ cholesky(VI))."""
    q = np.asarray(q, dtype=np.float64)
    x = np.asarray(x, dtype=np.float64)
    if metric in ("euclidean", "minkowski", "l2", "sqeuclidean"):
        sq = (
            (q * q).sum(1)[:, None] + (x * x).sum(1)[None, :] - 2.0 * q @ x.T
        )
        np.maximum(sq, 0.0, out=sq)
        return sq if metric == "sqeuclidean" else np.sqrt(sq)
    if metric in ("cosine", "cos"):
        # zero vectors take distance 1.0 (the engine convention)
        qn = np.linalg.norm(q, axis=1)
        xn = np.linalg.norm(x, axis=1)
        qn[qn == 0] = 1.0
        xn[xn == 0] = 1.0
        return 1.0 - (q / qn[:, None]) @ (x / xn[:, None]).T
    if metric == "correlation":
        return dist_matrix(
            q - q.mean(1, keepdims=True), x - x.mean(1, keepdims=True), "cosine"
        )
    if metric in ("jaccard", "dice"):
        bq = (q != 0).astype(np.float64)
        bx = (x != 0).astype(np.float64)
        ctt = bq @ bx.T
        s = bq.sum(1)[:, None] + bx.sum(1)[None, :]
        den = s - ctt if metric == "jaccard" else s
        return (s - 2.0 * ctt) / np.maximum(den, _TINY)
    diff = np.abs(q[:, None, :] - x[None, :, :])
    if metric in ("manhattan", "l1", "cityblock"):
        return diff.sum(2)
    if metric in ("chebyshev", "linf", "l_inf"):
        return diff.max(2)
    if metric == "hamming":
        return np.sign(diff).sum(2) / q.shape[1]
    if metric == "canberra":
        den = np.abs(q)[:, None, :] + np.abs(x)[None, :, :]
        return (diff / np.maximum(den, _TINY)).sum(2)
    if metric == "braycurtis":
        den = np.abs(q[:, None, :] + x[None, :, :]).sum(2)
        return diff.sum(2) / np.maximum(den, _TINY)
    if metric.startswith("minkowski_"):
        p = float(metric.split("_", 1)[1])
        return (diff**p).sum(2) ** (1.0 / p)
    raise ValueError(f"unsupported metric: {metric}")


def knn(
    q: np.ndarray, x: np.ndarray, k: int, metric: str, exclude_self: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Exact kNN, ties broken by (dist, index). Returns (dist, ind) (n, k)."""
    d = dist_matrix(q, x, metric)
    if exclude_self:
        n = min(d.shape[0], d.shape[1])
        d[np.arange(n), np.arange(n)] = np.inf
    idx = np.arange(x.shape[0])
    order = np.lexsort((np.tile(idx, (d.shape[0], 1)), d), axis=1)[:, :k]
    return np.take_along_axis(d, order, axis=1), order


def sort_final(dist: np.ndarray, ind: np.ndarray, k: int):
    """Final top-k with (dist, id) tie-break (stricter than base.py:72-87)."""
    order = np.lexsort((ind, dist), axis=1)[:, :k]
    return np.take_along_axis(dist, order, axis=1), np.take_along_axis(
        ind, order, axis=1
    )


def _norm_sf(x, mu, sd):
    erfc = np.vectorize(math.erfc)
    return 0.5 * erfc((x - mu) / (sd * _SQRT2))


def csls(fwd_dist, fwd_ind, rev_dist):
    r_train = rev_dist.mean(axis=1)
    r_test = fwd_dist.mean(axis=1)[:, None]
    return 2 * fwd_dist - r_test - r_train[fwd_ind]


def local_scaling(fwd_dist, fwd_ind, rev_dist, method="standard"):
    if method in ("standard", "ls"):
        r_t = rev_dist[:, -1]
        r_s = fwd_dist[:, -1][:, None]
        return 1.0 - np.exp(-(fwd_dist**2) / (r_s * r_t[fwd_ind]))
    if method == "nicdm":
        r_t = rev_dist.mean(axis=1)
        r_s = fwd_dist.mean(axis=1)[:, None]
        return fwd_dist / np.sqrt(r_s * r_t[fwd_ind])
    raise ValueError(method)


def mp_normal(fwd_dist, fwd_ind, rev_dist):
    mu_t = rev_dist.mean(axis=1)
    sd_t = rev_dist.std(axis=1)  # ddof=0, the numpy path
    mu = fwd_dist.mean(axis=1)[:, None]
    sd = fwd_dist.std(axis=1)[:, None]
    p1 = _norm_sf(fwd_dist, mu, sd)
    p2 = _norm_sf(fwd_dist, mu_t[fwd_ind], sd_t[fwd_ind])
    return 1.0 - p1 * p2


def mp_empiric(fwd_dist, fwd_ind, rev_dist, rev_ind):
    n, m = fwd_dist.shape
    out = np.empty_like(fwd_dist)
    max_ind = int(max(rev_ind.max(), fwd_ind.max()))
    for i in range(n):
        d_i = fwd_dist[i]
        dhat = np.zeros((m, m))
        for jcol in range(m):
            j = fwd_ind[i, jcol]
            row = np.full(max_ind + 1, rev_dist[j, -1] + 1e-6)
            row[rev_ind[j]] = rev_dist[j]
            dhat[jcol] = row[fwd_ind[i]]
        cnt = ((d_i[None, :] > d_i[:, None]) & (dhat > d_i[:, None])).sum(axis=1)
        out[i] = 1.0 - cnt / m
    return out


def dis_sim_local(fwd_dist, fwd_ind, rev_ind, source, target, metric="euclidean"):
    squared = metric == "sqeuclidean"
    centroids_t = source[rev_ind].mean(axis=1)
    delta_j = ((target - centroids_t) ** 2).sum(axis=1)
    n, m = fwd_dist.shape
    d2 = np.empty_like(fwd_dist)
    for i in range(n):
        diff = source[i][None, :] - target[fwd_ind[i]]
        d2[i] = (diff**2).sum(axis=1)
    centroids_s = target[fwd_ind].mean(axis=1)
    delta_i = ((source - centroids_s) ** 2).sum(axis=1)
    out = d2 - delta_i[:, None] - delta_j[fwd_ind]
    mn = out.min()
    if mn < 0:
        out = out - mn
    if not squared:
        out = out ** 0.5
    return out


def hubness_pipeline(
    source: np.ndarray,
    target: np.ndarray | None,
    k: int,
    n_candidates: int,
    method: str,
    metric: str = "euclidean",
) -> tuple[np.ndarray, np.ndarray]:
    """Full reference pipeline: candidates both ways -> transform -> top-k."""
    single = target is None
    tgt = source if single else target
    if method == "none":
        d, i = knn(source, tgt, k, metric, exclude_self=single)
        return d, i
    fwd_dist, fwd_ind = knn(source, tgt, n_candidates, metric, exclude_self=single)
    rev_dist, rev_ind = knn(tgt, source, n_candidates, metric, exclude_self=single)
    if method == "csls":
        d2 = csls(fwd_dist, fwd_ind, rev_dist)
    elif method == "ls":
        d2 = local_scaling(fwd_dist, fwd_ind, rev_dist, "standard")
    elif method == "nicdm":
        d2 = local_scaling(fwd_dist, fwd_ind, rev_dist, "nicdm")
    elif method == "mp_normal":
        d2 = mp_normal(fwd_dist, fwd_ind, rev_dist)
    elif method == "mp_empiric":
        d2 = mp_empiric(fwd_dist, fwd_ind, rev_dist, rev_ind)
    elif method == "dsl":
        d2 = dis_sim_local(fwd_dist, fwd_ind, rev_ind, source, tgt, metric)
    else:
        raise ValueError(method)
    return sort_final(d2, fwd_ind, k)


# ---- hubness analysis measures (estimation.py formulas) ----


def k_occurrence(nn_ind: np.ndarray, n_train: int, k: int | None = None) -> np.ndarray:
    arr = nn_ind if k is None else nn_ind[:, :k]
    arr = arr[arr >= 0]
    return np.bincount(arr.astype(int).ravel(), minlength=n_train)


def skewness(x: np.ndarray) -> float:
    """Population (biased) skewness m3/m2^1.5 — same as scipy.stats.skew
    default and Spark's skewness()."""
    x = np.asarray(x, dtype=np.float64)
    mu = x.mean()
    m2 = ((x - mu) ** 2).mean()
    m3 = ((x - mu) ** 3).mean()
    return float(m3 / m2**1.5)


def skewness_truncnorm(k_occ: np.ndarray) -> float:
    """Reference's truncnorm hubness measure (estimation.py:37-58):
    scipy ``truncnorm(a, b).moment(3)`` = third RAW moment of the standard
    normal truncated to [a, +inf) with a = (0 - mean)/std(ddof=1)
    (b is astronomically large). Closed form via the raw-moment recursion
    M_n = (n-1) M_{n-2} + a^{n-1} * lam, lam = phi(a)/(1 - Phi(a))."""
    mu = k_occ.mean()
    sd = k_occ.std(ddof=1)
    a = (0.0 - mu) / sd
    phi_a = math.exp(-0.5 * a * a) / math.sqrt(2 * math.pi)
    z = 0.5 * math.erfc(a / _SQRT2)  # P(X > a)
    lam = phi_a / z
    return float(2.0 * lam + a * a * lam)


def gini_index(k_occ: np.ndarray) -> float:
    """Pairwise |xi-xj| formula (estimation.py:61-97) computed via the
    equivalent sort form: sum_i (2i - n - 1) x_(i) / (n * sum x)."""
    x = np.sort(np.asarray(k_occ, dtype=np.float64))
    n = x.size
    i = np.arange(1, n + 1)
    return float(((2 * i - n - 1) * x).sum() / (n * x.sum()))


def robinhood_index(k_occ: np.ndarray) -> float:
    return float(0.5 * np.abs(k_occ - k_occ.mean()).sum() / k_occ.sum())


def atkinson_index(k_occ: np.ndarray, eps: float = 0.5) -> float:
    if eps == 1:
        # geometric mean via exp(mean(log)) — equals the reference's
        # prod**(1/n) (estimation.py:146) without int overflow; any zero
        # k-occ makes it 0 in both forms
        x = np.asarray(k_occ, dtype=np.float64)
        term = 0.0 if (x == 0).any() else float(np.exp(np.mean(np.log(x))))
    else:
        term = np.mean(k_occ ** (1 - eps)) ** (1 / (1 - eps))
    return float(1.0 - term / k_occ.mean())


def hubness_score(nn_ind: np.ndarray, target_samples: int, k: int | None = None,
                  hub_size: float = 2.0) -> dict:
    n_train = nn_ind.shape[0]
    if k is None or k > nn_ind.shape[1]:
        k = nn_ind.shape[1]
    k_occ = k_occurrence(nn_ind, n_train, k)
    antihubs = np.argwhere(k_occ == 0).ravel()
    hubs = np.argwhere(k_occ >= hub_size * k).ravel()
    return {
        "k_skewness": skewness(k_occ),
        "k_skewness_truncnorm": skewness_truncnorm(k_occ),
        "atkinson": atkinson_index(k_occ),
        "gini": gini_index(k_occ),
        "robinhood": robinhood_index(k_occ),
        "antihub_occurrence": antihubs.size / k_occ.size,
        "hub_occurrence": float(k_occ[hubs].sum() / k / target_samples),
        "groupie_ratio": float(k_occ.max() / target_samples / k),
    }


def hits(nn_ind: np.ndarray, gold: dict, ks=(1, 5, 10)) -> dict:
    out = {}
    for kk in ks:
        c = 0
        for i in range(nn_ind.shape[0]):
            if i in gold and gold[i] in nn_ind[i][:kk]:
                c += 1
        out[kk] = c / len(gold)
    return out


def components(edges, nodes=None) -> dict:
    """{id: min id of its connected component} by union-find — the
    reference for operators.clustering.connected_components. Self edges
    connect nothing and are dropped, as there; with ``nodes`` the result
    covers exactly those ids, without it the ids on the edges."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)  # a root is its set's min id
    return {x: find(x) for x in (parent if nodes is None else nodes)}
