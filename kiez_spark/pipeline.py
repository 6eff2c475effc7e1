"""Pipeline driver: fit/kneighbors orchestration (the Spark analogue of
/root/reference/kiez/kiez.py Kiez + hubness_reduction/base.py).

Stage graph (hubness != none):

  source ───┐                      ┌─> forward cands s2t (k=n_candidates)──┐
            ├─ candidate kNN join ─┤                                       ├─ transform ─ topk(k)
  target ───┘                      └─> reverse cands t2s (k=n_candidates)──┘
                                        (per-target stats: the kernel's
                                         rank-1 row, else aggregated)

The ranked table (``ranked``) carries each pair's primary distance from
the candidate pass as ``raw_dist`` through the transform and the top-k;
``kneighbors`` is its projection to the reference's columns.

NoHubnessReduction short-circuit preserved (base.py:114-122): single
forward query at the final k, no reverse pass — halves cost.

Validation semantics mirror the reference: n_candidates must be a positive
int (kiez.py:106-113), hubness with n_candidates == 1 is an error
(base.py:24-27), k is None -> n_candidates with a warning, k > n_candidates
-> clamp with a warning (base.py:56-70).
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kiez_spark.operators import hubness as H
from kiez_spark.operators import knn as K

HUBNESS_METHODS = ("none", "csls", "ls", "nicdm", "mp_normal", "mp_empiric", "dsl")
TIERS = ("pandas", "blocked", "lsh")


@dataclass
class PipelineConfig:
    n_candidates: int = 10
    k: int = 5
    metric: str = "euclidean"
    # per-metric parameters, mirroring sklearn's metric_params contract
    # (the reference's exact tier forwards them verbatim): seuclidean
    # requires {'V': [per-dim variances]}
    metric_params: dict | None = None
    hubness: str = "none"
    tier: str = "pandas"
    block_col: str | None = None
    id_col: str = "id"
    vec_col: str = "vec"
    # LSH knobs (approximate tier): number of hash tables (OR-amplified)
    # and hyperplanes per table (AND-amplified) / bucket width. Bucket
    # width None = AUTO-CALIBRATE from the indexed data (2 x the median
    # pairwise distance of a deterministic sample, lsh.py
    # estimate_bucket_width): a fixed default far below the corpus's
    # distance scale silently yields zero collisions — approximate
    # queries then return empty results with no error.
    # tables/bits None = per-metric-family defaults: the sign-bit
    # (cosine) family concentrates well at 8 tables x 12 bits, while the
    # bucketed (euclidean) family needs shallower ANDs (12 tables x
    # 6 bits — the link_files calibration) or recall collapses.
    lsh_tables: int | None = None
    lsh_bits: int | None = None
    lsh_bucket_width: float | None = None
    lsh_seed: int = 42

    def __post_init__(self):
        if not isinstance(self.n_candidates, int) or isinstance(self.n_candidates, bool):
            raise TypeError(
                f"n_candidates must be an integer, got {type(self.n_candidates)}"
            )
        if self.n_candidates <= 0:
            raise ValueError(f"n_candidates must be > 0, got {self.n_candidates}")
        if self.hubness not in HUBNESS_METHODS:
            raise ValueError(f"unknown hubness method {self.hubness!r}")
        if self.hubness != "none" and self.n_candidates == 1:
            raise ValueError(
                "Cannot perform hubness reduction with a single candidate per query!"
            )
        if self.tier not in TIERS:
            raise ValueError(f"unknown tier {self.tier!r}")
        if self.tier == "blocked" and not self.block_col:
            raise ValueError("tier='blocked' requires block_col")
        if self.tier == "lsh" and self.hubness in ("mp_empiric", "dsl"):
            # these transforms aggregate STRUCTURE from the reverse table
            # (sparse reverse rows / candidate centroids) with no meaningful
            # per-pair fallback: under the lsh tier a target with no bucket
            # collision has an empty reverse list and its forward pairs
            # would be silently dropped (fewer than k neighbors, no error).
            # The other transforms degrade gracefully via left-join
            # fallbacks; these two must refuse.
            raise ValueError(
                f"hubness={self.hubness!r} requires a complete reverse"
                " candidate table and cannot run on tier='lsh' (empty"
                " reverse candidate lists would silently drop forward"
                " pairs); use tier='pandas'/'blocked', or a"
                " fallback-capable transform (csls/ls/nicdm/mp_normal)."
            )
        # a misspelled metric would otherwise fail only inside a
        # Python-worker task, after a Spark job has started
        K.check_metric(self.metric)
        if self.metric == "seuclidean" and not (
            self.metric_params and "V" in self.metric_params
        ):
            raise ValueError(
                "metric='seuclidean' requires metric_params={'V': [per-dim"
                " variances]} (the sklearn contract)"
            )
        if self.metric == "mahalanobis" and not (
            self.metric_params and "VI" in self.metric_params
        ):
            raise ValueError(
                "metric='mahalanobis' requires metric_params={'VI': inverse"
                " covariance matrix} (the sklearn contract)"
            )
        if self.hubness == "dsl" and self.metric not in (
            "euclidean",
            "minkowski",
            "l2",
            "sqeuclidean",
        ):
            raise ValueError(
                "DisSimLocal only supports (squared) Euclidean distances, not"
                f" metric={self.metric}."
            )

    @classmethod
    def from_json(cls, path: str) -> "PipelineConfig":
        with open(path) as f:
            return cls(**json.load(f))


class HubnessKnn:
    """fit(source, target) -> kneighbors(k) over DataFrames of (id, vec)."""

    def __init__(self, config: PipelineConfig | None = None, **kwargs):
        self.config = config or PipelineConfig(**kwargs)
        self.source_: DataFrame | None = None
        self.target_: DataFrame | None = None
        self.single_source = False

    # -- candidate generation, tier dispatch ------------------------------
    def _candidates(
        self, queries: DataFrame, index: DataFrame, k: int, exclude_self: bool
    ) -> DataFrame:
        c = self.config
        # seuclidean: scale both sides ONCE (1/sqrt(V)) and fold the
        # metric to euclidean so every tier (including the LSH buckets
        # and the numpy index collect below) shares the euclidean path.
        # The pandas-tier cache key is taken from the ORIGINAL object
        # before rewriting — identity against self.source_/target_.
        metric = c.metric
        orig_index = index
        if metric in ("seuclidean", "mahalanobis"):
            queries, index, metric = K.apply_metric_rewrites(
                queries, index, metric, c.metric_params, c.vec_col
            )
        if c.tier == "pandas":
            # index build = the 'fit' step: collect each side's numpy copy
            # + broadcast once, reuse across forward/reverse queries; the
            # stable cache token also lets workers keep one kernel state
            key = "src" if orig_index is self.source_ else "tgt"
            if key not in self._index_np:
                np_idx = K.collect_index(index, c.id_col, c.vec_col)
                bc = queries.sparkSession.sparkContext.broadcast(np_idx)
                self._index_np[key] = bc
            # token tied to this fit's unique uuid — NOT id(self): CPython
            # reuses freed addresses, so an id(self) token could alias a
            # stale worker-cached kernel built from a previous fit's index
            # in the same Spark app
            cands = K.knn_join_pandas(
                queries, index, k, metric,
                id_col=c.id_col, vec_col=c.vec_col, exclude_self=exclude_self,
                index_bc=self._index_np[key],
                cache_token=f"{self._fit_token}-{key}-{k}",
            )
            # kernel output is already per-query top-k with ranks and the
            # engine tie-break -- no extra rank window (saves a shuffle)
            return cands
        if c.tier == "blocked":
            cands = K.knn_join_blocked(
                queries, index, k, metric,
                id_col=c.id_col, vec_col=c.vec_col,
                block_col=c.block_col, exclude_self=exclude_self,
            )
            return K.topk(cands, k)
        if c.tier == "lsh":
            from kiez_spark.operators import lsh as L

            is_cos = metric in ("cosine", "cos")
            n_tables = c.lsh_tables if c.lsh_tables is not None else (
                8 if is_cos else 12
            )
            n_bits = c.lsh_bits if c.lsh_bits is not None else (
                12 if is_cos else 6
            )
            bw = c.lsh_bucket_width
            if bw is None and not is_cos:
                # auto-calibrate once per fit (cached; the dual
                # directions share the corpus distance scale): a width
                # far off that scale silently yields zero bucket
                # collisions. The sign-bit (cosine) family has no width.
                bw = self._lsh_bw_cache.get(self._fit_token)
                if bw is None:
                    bw = L.estimate_bucket_width(
                        index, id_col=c.id_col, vec_col=c.vec_col,
                        seed=c.lsh_seed,
                    )
                    self._lsh_bw_cache = {self._fit_token: bw}
            # bucket-local kernel top-k: provably identical output to
            # topk(lsh_candidates(...), k) but the collision rows never
            # leave their bucket (see lsh.lsh_topk docstring)
            return L.lsh_topk(
                queries, index, k, metric,
                id_col=c.id_col, vec_col=c.vec_col,
                n_tables=n_tables, n_bits=n_bits,
                bucket_width=bw if bw is not None else 2.0,
                seed=c.lsh_seed,
                exclude_self=exclude_self,
            )
        raise AssertionError(c.tier)

    def fit(self, source: DataFrame, target: DataFrame | None = None) -> "HubnessKnn":
        import uuid

        self.release()
        self.single_source = target is None
        self.source_ = source
        self.target_ = source if target is None else target
        self._index_np: dict = {}
        self._fit_token = uuid.uuid4().hex[:12]
        self._lsh_bw_cache: dict = {}
        return self

    def release(self) -> None:
        """Unpersist the tables cached by kneighbors()/ranked(): the
        single-source candidate table and DSL's rescored pairs. Called
        automatically on re-fit; call it explicitly when done with an
        engine to return executor storage memory."""
        for df in getattr(self, "_persisted", []):
            df.unpersist()
        self._persisted: list[DataFrame] = []

    def _set_k(self, k: int | None) -> int:
        c = self.config
        if k is None:
            warnings.warn(
                f"No k supplied, setting to n_candidates = {c.n_candidates}",
                stacklevel=2,
            )
            return c.n_candidates
        if k > c.n_candidates:
            warnings.warn(
                f"k > n_candidates supplied! Setting to n_candidates = {c.n_candidates}",
                stacklevel=2,
            )
            return c.n_candidates
        return k

    def kneighbors(self, k: int | None = None) -> DataFrame:
        """Returns (query_id, cand_id, dist, rank) with rank 1..k per query.

        ``dist`` is the hubness-reduced (secondary) distance when a
        transform is configured, like the reference returns the rescored
        distances (base.py:89-105). A projection of ``ranked(k)``.
        """
        return self.ranked(k).select("query_id", "cand_id", "dist", "rank")

    def ranked(self, k: int | None = None) -> DataFrame:
        """The engine's ranked table (query_id, cand_id, dist, rank,
        raw_dist): ``kneighbors``' rows plus ``raw_dist``, the candidate
        pass's own (primary) distance of each pair, carried through the
        hubness transform and the top-k. Linkage gates on it, so no
        caller re-joins the vectors to recompute a distance the kNN
        kernel already returned.
        """
        if self.source_ is None:
            raise RuntimeError("fit() must be called before kneighbors()")
        c = self.config
        n_neighbors = self._set_k(k)
        excl = self.single_source
        cols = ["query_id", "cand_id", "dist", "rank", "raw_dist"]
        if c.hubness == "none":
            return self._candidates(
                self.source_, self.target_, n_neighbors, excl
            ).withColumn("raw_dist", F.col("dist")).select(*cols)

        # the transforms read (query_id, cand_id, dist) and, when the
        # pandas-tier kernel emitted them, each query's rank and
        # candidate-set statistics (forward and reverse alike)
        keep = ("query_id", "cand_id", "dist", "rank", "row_mean", "row_max",
                "row_std")
        s2t = self._candidates(self.source_, self.target_, c.n_candidates, excl)
        s2t_flat = s2t.select(*[c_ for c_ in keep if c_ in s2t.columns])
        if self.single_source:
            # the reverse (t->s) candidate table is IDENTICAL to the
            # forward one (same entity set, symmetric metric, same k):
            # compute once, persist so the stats aggregation and the
            # scoring pass share one materialization. t2s_flat is the SAME
            # DataFrame object — dis_sim_local's `t2s is s2t`
            # single-source shortcut (delta_j == delta_i) depends on
            # object identity.
            s2t_flat = s2t_flat.persist()
            self._persisted.append(s2t_flat)
            t2s_flat = s2t_flat
        else:
            t2s = self._candidates(self.target_, self.source_, c.n_candidates, excl)
            t2s_flat = t2s.select(*[c_ for c_ in keep if c_ in t2s.columns])

        if c.hubness == "dsl":
            src = self.source_.select(
                self.source_[c.id_col].cast("bigint").alias("id"),
                self.source_[c.vec_col].cast("array<double>").alias("vec"),
            )
            if self.single_source:
                # same OBJECT, so dis_sim_local's identity-based
                # single-source shortcut (delta_j == delta_i) engages
                tgt = src
            else:
                tgt = self.target_.select(
                    self.target_[c.id_col].cast("bigint").alias("id"),
                    self.target_[c.vec_col].cast("array<double>").alias("vec"),
                )
            rescored = H.dis_sim_local(
                s2t_flat, t2s_flat, src, tgt, c.metric, owned=self._persisted
            )
        else:
            rescored = H.TRANSFORMS[c.hubness](s2t_flat, t2s_flat)
        return K.topk(rescored, n_neighbors).select(*cols)
