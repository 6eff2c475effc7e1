"""Hubness-reduction transforms as DataFrame dataflow.

Each reference transform (/root/reference/kiez/hubness_reduction/) is an
aggregation over the reverse-direction (target->source) candidate table +
a broadcast join + a column expression over the forward (source->target)
candidate table. The numpy fancy-index gather ``r[neigh_ind]`` is exactly
an equi-join on the candidate id.

Candidate-table convention (see operators/knn.py):
  forward  s2t: query_id = source entity, cand_id = target entity
  reverse  t2s: query_id = target entity, cand_id = source entity

All transforms return an UNSORTED rescored candidate table
(query_id, cand_id, dist, raw_dist) — ``dist`` is the secondary
distance, ``raw_dist`` the forward table's primary distance carried
through unchanged, so a linkage rule can gate on the kNN pass's own
distance without recomputing it. Final top-k is ``knn.topk`` (mirrors
the reference contract that transform output "must be sorted
downstream", hubness_reduction/base.py:102-105).

Shuffle accounting (scale design): per-row stats use a window over
query_id — one exchange that the downstream rank window reuses (same
partitioning). Per-candidate stats are tiny tables (one row per target
entity) broadcast onto the forward table — no second shuffle of the big
candidate table. On the pandas tier, csls, ls and nicdm take both from
the kernel: it emits each query's row_mean/row_max on every candidate
row, so the forward statistic is a column and the reverse one is the
rank-1 row of each reverse query, with no aggregate at all.

Approximate-tier totality: under the lsh tier a target entity can have an
EMPTY reverse candidate list (no bucket collision), so the stats join is a
LEFT join with the query-side statistic as fallback — forward pairs are
never silently dropped and the exact tiers (where every target has a full
reverse list) are bit-identical. ``dsl``/``mp_empiric`` aggregate
structure (centroids / sparse reverse rows) has no meaningful fallback and
requires every target to appear as a reverse query — exact tiers only,
ENFORCED in PipelineConfig.__post_init__ (tier='lsh' with these methods
raises instead of silently losing rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kiez_spark.functions.vectors import normal_sf, sqeuclidean


def _raw():
    """The forward table's primary distance, carried through every
    transform."""
    return F.col("dist").alias("raw_dist")


def _row_w():
    # built lazily: PySpark 4 requires an active session to create a Window
    return Window.partitionBy("query_id")


def _row_stat(s2t: DataFrame, agg_fn, precomputed: str):
    """Per-query candidate-set statistic: use the kernel-emitted column
    when the candidate table carries it (pandas tier — saves a window
    shuffle), else a window aggregate (blocked/lsh tiers)."""
    if precomputed in s2t.columns:
        return F.col(precomputed)
    return agg_fn("dist").over(_row_w())


def _reverse_stats(t2s: DataFrame, agg_fn, precomputed: str, name: str) -> DataFrame:
    """Per-target-entity statistic from the reverse candidate table.

    In t2s the *query* is the target entity, so stats key = t2s.query_id,
    joined onto forward candidates via cand_id (the gather r[neigh_ind],
    csls.py:93, local_scaling.py:136-145, mutual_proximity.py:173-181).
    When the table carries the kernel's per-query column (pandas tier),
    the statistic is read off each query's rank-1 row; else (blocked/lsh
    tiers) it is a groupBy aggregate.
    """
    if precomputed in t2s.columns and "rank" in t2s.columns:
        stats = t2s.filter(F.col("rank") == 1).select(
            "query_id", F.col(precomputed).alias(name)
        )
    else:
        stats = t2s.groupBy("query_id").agg(agg_fn("dist").alias(name))
    return stats.withColumnRenamed("query_id", "cand_id")


def csls(s2t: DataFrame, t2s: DataFrame) -> DataFrame:
    """Cross-domain similarity local scaling (csls.py:85-96):
    d' = 2d - mean_i(forward dists) - mean_j(reverse dists)."""
    stats = _reverse_stats(t2s, F.avg, "row_mean", "r_train")
    return (
        s2t.withColumn("r_test", _row_stat(s2t, F.avg, "row_mean"))
        .join(F.broadcast(stats), "cand_id", "left")
        .withColumn("r_train", F.coalesce("r_train", "r_test"))
        .select(
            "query_id",
            "cand_id",
            (2.0 * F.col("dist") - F.col("r_test") - F.col("r_train")).alias("dist"),
            _raw(),
        )
    )


def local_scaling(s2t: DataFrame, t2s: DataFrame, method: str = "standard") -> DataFrame:
    """LocalScaling standard/ls and nicdm (local_scaling.py:129-147).

    standard: r = k-th (= max over the sorted candidate set) distance;
              d' = 1 - exp(-d^2 / (r_i * r_j))
    nicdm:    r = mean distance; d' = d / sqrt(r_i * r_j)
    """
    if method in ("standard", "ls"):
        stats = _reverse_stats(t2s, F.max, "row_max", "r_train")
        out = (
            s2t.withColumn("r_test", _row_stat(s2t, F.max, "row_max"))
            .join(F.broadcast(stats), "cand_id", "left")
            .withColumn("r_train", F.coalesce("r_train", "r_test"))
            .select(
                "query_id",
                "cand_id",
                (
                    1.0
                    - F.exp(
                        -(F.col("dist") * F.col("dist"))
                        / (F.col("r_test") * F.col("r_train"))
                    )
                ).alias("dist"),
                _raw(),
            )
        )
    elif method == "nicdm":
        stats = _reverse_stats(t2s, F.avg, "row_mean", "r_train")
        out = (
            s2t.withColumn("r_test", _row_stat(s2t, F.avg, "row_mean"))
            .join(F.broadcast(stats), "cand_id", "left")
            .withColumn("r_train", F.coalesce("r_train", "r_test"))
            .select(
                "query_id",
                "cand_id",
                (F.col("dist") / F.sqrt(F.col("r_test") * F.col("r_train"))).alias(
                    "dist"
                ),
                _raw(),
            )
        )
    else:
        raise ValueError(f"unknown local scaling method: {method}")
    return out


def mutual_proximity_normal(s2t: DataFrame, t2s: DataFrame) -> DataFrame:
    """MP with independent Gaussians (mutual_proximity.py:166-183):
    d' = 1 - sf(d; mu_i, sd_i) * sf(d; mu_j, sd_j), sd is population std
    (numpy nanstd ddof=0, mutual_proximity.py:103,178 — we standardize on
    the numpy path; torch uses ddof=1 and the reference's own tests only
    hold the two to 1e-1). The reverse statistics stay a groupBy even on
    the pandas tier: the kernel's row_std is a one-pass sqrt(ssq/n -
    mean^2), which loses every digit when a query's distances tie."""
    stats = t2s.groupBy("query_id").agg(
        F.avg("dist").alias("mu_train"),
        F.stddev_pop("dist").alias("sd_train"),
    ).withColumnRenamed("query_id", "cand_id")
    p1 = normal_sf(F.col("dist"), F.col("mu_test"), F.col("sd_test"))
    p2 = normal_sf(F.col("dist"), F.col("mu_train"), F.col("sd_train"))
    return (
        s2t.withColumn("mu_test", _row_stat(s2t, F.avg, "row_mean"))
        .withColumn("sd_test", _row_stat(s2t, F.stddev_pop, "row_std"))
        .join(F.broadcast(stats), "cand_id", "left")
        .withColumn("mu_train", F.coalesce("mu_train", "mu_test"))
        .withColumn("sd_train", F.coalesce("sd_train", "sd_test"))
        .select("query_id", "cand_id", (1.0 - p1 * p2).alias("dist"), _raw())
    )


_MP_EMPIRIC_SCHEMA = (
    "query_id bigint, cand_id bigint, dist double, raw_dist double"
)


def mutual_proximity_empiric(s2t: DataFrame, t2s: DataFrame) -> DataFrame:
    """MP empiric (mutual_proximity.py:185-212).

    d'_ij = 1 - #{l in cand(i): d_il > d_ij  AND  dhat_j[c_il] > d_ij} / m
    where dhat_j is candidate j's reverse-direction sparse distance row:
    dhat_j[x] = reverse dist if x is among j's reverse candidates, else
    (j's max reverse dist + 1e-6) — reproducing the reference exactly,
    including its id-space quirk (reverse candidate ids are source ids but
    are probed with forward candidate ids; deterministic either way).

    Plan: aggregate each target j's reverse list once (groupBy into
    id-sorted parallel arrays), broadcast-join it onto forward candidates,
    then a grouped ``applyInPandas`` computes the k x k comparison matrix
    per query — fully vectorized, no per-row Python: the ragged reverse
    lists are padded into one (m x L) matrix pair and ALL m x m sparse
    dhat probes run as a single broadcast membership compare.
    O(m^2 L) numpy per query — keep n_candidates modest, as the
    reference does.

    Requires every forward candidate to appear as a reverse query
    (guaranteed by the exact tiers; see module note on the lsh tier).
    """
    import numpy as np  # noqa: PLC0415 — keep kernel deps local for pickling
    import pandas as pd  # noqa: PLC0415

    rev = (
        t2s.groupBy("query_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("cand_id", "dist"))).alias("rl"),
            F.max("dist").alias("rev_max"),
        )
        .select(
            F.col("query_id").alias("cand_id"),
            F.expr("transform(rl, e -> e.cand_id)").alias("rev_ids"),
            F.expr("transform(rl, e -> e.dist)").alias("rev_dists"),
            "rev_max",
        )
    )
    joined = s2t.join(F.broadcast(rev), "cand_id").select(
        "query_id", "cand_id", "dist", "rev_ids", "rev_dists", "rev_max"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        d = pdf["dist"].to_numpy(np.float64)
        c = pdf["cand_id"].to_numpy(np.int64)
        rev_max = pdf["rev_max"].to_numpy(np.float64)
        # pad the ragged reverse lists into one (m x L) pair of matrices
        # (vectorized mask fill — no per-row Python), then probe ALL m x m
        # memberships in one broadcast compare: ids are unique within a
        # row, so the masked sum picks out exactly the matched distance.
        lists_i = pdf["rev_ids"].to_list()
        lists_d = pdf["rev_dists"].to_list()
        lens = np.fromiter((len(x) for x in lists_i), dtype=np.int64, count=m)
        L = int(lens.max()) if m else 0
        pad = np.arange(L)[None, :] < lens[:, None]
        rid = np.full((m, L), np.iinfo(np.int64).min, dtype=np.int64)
        rd = np.zeros((m, L), dtype=np.float64)
        rid[pad] = np.concatenate(lists_i) if m else []
        rd[pad] = np.concatenate(lists_d) if m else []
        eq = rid[:, :, None] == c[None, None, :]  # (m, L, m) membership
        dhat = np.where(
            eq.any(axis=1),
            (rd[:, :, None] * eq).sum(axis=1),
            rev_max[:, None] + 1e-6,
        )
        cnt = ((d[None, :] > d[:, None]) & (dhat > d[:, None])).sum(axis=1)
        return pd.DataFrame(
            {"query_id": pdf["query_id"], "cand_id": c, "dist": 1.0 - cnt / m,
             "raw_dist": d}
        )

    return joined.groupBy("query_id").applyInPandas(kernel, _MP_EMPIRIC_SCHEMA)


def _dist_to_centroid(
    cands: DataFrame, member_vecs: DataFrame, self_vecs: DataFrame, out: str
) -> DataFrame:
    """delta_q = || self_vec_q - mean(member vecs of q's candidates) ||^2.

    Element-wise group centroid WITHOUT exploding vectors: a
    ``collect_list`` of the (bounded: n_candidates) member vectors per
    query, folded element-wise with ``aggregate``/``zip_with`` — one
    shuffle of k vectors per query instead of a (query, dim)-exploded
    shuffle of k*dim rows. Whole-stage codegen, no Python. Members are
    summed in (dist, cand_id) order, the oracle's, not in shuffle order,
    so the bits do not depend on partitioning. Returns (query_id, <out>).
    """
    grouped = (
        cands.join(member_vecs, cands["cand_id"] == member_vecs["id"])
        .groupBy("query_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dist", "cand_id", "vec"))),
                lambda m: m["vec"],
            ).alias("vs")
        )
    )
    zero = F.array_repeat(F.lit(0.0), F.size(F.element_at("vs", 1)))
    cent = F.transform(
        F.aggregate(
            F.col("vs"), zero, lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b)
        ),
        lambda s: s / F.size("vs"),
    )
    centroids = grouped.select("query_id", cent.alias("cent"))
    selfs = self_vecs.select(
        F.col("id").alias("query_id"), F.col("vec").alias("svec")
    )
    return centroids.join(selfs, "query_id").select(
        "query_id", sqeuclidean(F.col("svec"), F.col("cent")).alias(out)
    )


def dis_sim_local(
    s2t: DataFrame,
    t2s: DataFrame,
    source: DataFrame,
    target: DataFrame,
    metric: str = "euclidean",
    owned: list[DataFrame] | None = None,
) -> DataFrame:
    """DisSimLocal (dis_sim.py:110-181).

    fit:      delta_j = ||target_j - centroid(source vecs of j's reverse
              candidates)||^2                           (dis_sim.py:94-107)
    transform: recompute d2 = ||s_i - t_j||^2 per pair  (dis_sim.py:144-157)
              delta_i = ||s_i - centroid(target vecs of i's forward
              candidates)||^2                           (dis_sim.py:159-162)
              d' = d2 - delta_i - delta_j; global shift to >= 0
              (dis_sim.py:165-173); sqrt if metric is euclidean
              (squared=False path, dis_sim.py:44-61,176-177).

    The global min is a two-pass barrier: tiny scalar agg + broadcast —
    cheap at any scale but noted as a pipeline-stage boundary. Reference
    semantics define the min over ALL pairs, so under blocking we still
    take it globally.

    ``owned``: the rescored pairs are persisted for the barrier and the
    cache must outlive the returned lazy plan, so it is appended here
    for the caller to unpersist once the plan is materialised
    (``HubnessKnn.release()``).
    """
    if metric in ("euclidean", "minkowski", "l2"):
        squared = False
    elif metric == "sqeuclidean":
        squared = True
    else:
        raise ValueError(
            f"DisSimLocal only supports (squared) Euclidean distances, not {metric}"
        )
    src_v = source.select(F.col("id"), F.col("vec").cast("array<double>").alias("vec"))
    tgt_v = target.select(F.col("id"), F.col("vec").cast("array<double>").alias("vec"))

    delta_i = _dist_to_centroid(s2t, tgt_v, src_v, "delta")
    if t2s is s2t and source is target:
        # single-source: the reverse candidate table and entity set are
        # the forward ones, so delta_j == delta_i — reference the SAME
        # DataFrame (not a renamed projection) so both broadcast joins
        # share one BroadcastExchange: renames below the exchange change
        # the canonical plan and defeat ReuseExchange, re-running the
        # whole centroid join+fold subtree a second time (guide §2.4)
        delta_j = delta_i
    else:
        delta_j = _dist_to_centroid(t2s, src_v, tgt_v, "delta")

    # the reference recomputes pairwise squared euclidean distances from
    # the vectors (dis_sim.py:144-157); for (sq)euclidean candidates the
    # recomputation equals dist^2 (resp. dist) of the candidate table —
    # reuse it instead of re-joining both vector tables
    d2 = (F.col("dist") * F.col("dist")) if metric != "sqeuclidean" else F.col("dist")
    di, dj = delta_i.alias("di"), delta_j.alias("dj")
    # persisted because the global-min barrier consumes `pairs` TWICE —
    # once for the scalar min aggregate, once for the shifted output —
    # and without the cache each pass re-runs the candidate scan + both
    # broadcast joins (measured 2.0 -> 1.56 s at sf0.1, identical rows).
    # Lifetime: the cache must outlive the returned LAZY plan, so it is
    # handed to ``owned`` instead of being unpersisted here. Size is the
    # rescored candidate table itself (n_queries * k rows of 4 scalars),
    # the table the caller materializes anyway.
    pairs = (
        s2t.alias("c")
        .join(F.broadcast(di), F.col("c.query_id") == F.col("di.query_id"))
        .join(F.broadcast(dj), F.col("c.cand_id") == F.col("dj.query_id"))
        .select(
            F.col("c.query_id").alias("query_id"),
            F.col("c.cand_id").alias("cand_id"),
            # delta_i + delta_j first: symmetric, so the two directions
            # of a single-source pair get bit-equal values
            (d2 - (F.col("di.delta") + F.col("dj.delta"))).alias("dist"),
            F.col("c.dist").alias("raw_dist"),
        )
    ).persist()
    if owned is not None:
        owned.append(pairs)
    min_row = pairs.agg(F.min("dist").alias("mind"))
    shifted = pairs.crossJoin(F.broadcast(min_row)).select(
        "query_id",
        "cand_id",
        F.when(F.col("mind") < 0.0, F.col("dist") - F.col("mind"))
        .otherwise(F.col("dist"))
        .alias("dist"),
        "raw_dist",
    )
    if not squared:
        shifted = shifted.select(
            "query_id", "cand_id", F.sqrt(F.col("dist")).alias("dist"),
            "raw_dist",
        )
    return shifted


TRANSFORMS = {
    "none": None,
    "csls": csls,
    "ls": lambda s2t, t2s: local_scaling(s2t, t2s, "standard"),
    "nicdm": lambda s2t, t2s: local_scaling(s2t, t2s, "nicdm"),
    "mp_normal": mutual_proximity_normal,
    "mp_empiric": mutual_proximity_empiric,
    "dsl": dis_sim_local,
}
