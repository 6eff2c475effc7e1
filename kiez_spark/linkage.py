"""End-to-end record-linkage pipeline (the north_star flow).

repos_files(repo, path, commit, lang, content)
  -> stage "embeddings":  hash-feature vectors + content_sha invariant
  -> stage "candidates":  blocking + kNN + hubness rescore (HubnessKnn
                          ``ranked``: rank, secondary dist and the kNN
                          pass's raw_dist), sha re-attached per query row
  -> stage "pairs":       distance threshold on RAW distance + candidate
                          rank gate; canonicalized unordered pairs
  -> stage "clusters":    connected components (driver finish while the
                          edges fit, star rounds above) over the embeddings
                          as node universe; singletons included, sha kept

Every stage runs once through StageCheckpointer (checkpoint.py): a
parquet checkpoint with checkpoint_dir (resume + lineage + metrics + sha
invariant, the metric tables completed by the run's one verification
pass), an eager localCheckpoint without. The hubness engine's caches are
released once the stage that read them is materialised.

Matching rule: a candidate pair is a match when its *raw* distance is
<= max_dist AND it survived the hubness-reduced top-k (rank <= k). The
raw distance is the kNN pass's own distance of the pair, carried through
the hubness transform (``raw_dist``), not recomputed from the vectors.
The hubness transform decides WHICH candidates surface; the absolute
gate keeps far-apart pairs out of the transitive closure (transitivity
amplifies false positives — a single bad edge merges two clusters).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kiez_spark.checkpoint import StageCheckpointer
from kiez_spark.operators import clustering as C
from kiez_spark.pipeline import HubnessKnn, PipelineConfig
from kiez_spark.synth import derive_embeddings


def _query_sha(emb: DataFrame) -> DataFrame:
    return emb.select(F.col("id").alias("query_id"), "content_sha")


@dataclass
class LinkageResult:
    embeddings: DataFrame
    candidates: DataFrame
    pairs: DataFrame
    clusters: DataFrame
    checkpointer: StageCheckpointer


def link_files(
    spark: SparkSession,
    files: DataFrame,
    *,
    dim: int = 32,
    k: int = 5,
    n_candidates: int = 10,
    hubness: str = "csls",
    metric: str = "euclidean",
    tier: str = "pandas",
    max_dist: float | None = None,
    checkpoint_dir: str | None = None,
    # euclidean-LSH knobs calibrated for derive_embeddings' distance scale
    # (near pairs sit below max_dist=12): W must exceed the near-pair
    # distance or the AND-ed bits collide with ~0 probability — W=32 with
    # 6 bits x 12 tables gives >0.9 near-pair recall (tests/
    # test_synth_lsh_linkage.py::test_lsh_euclidean_recall)
    lsh_tables: int = 12,
    lsh_bits: int = 6,
    lsh_bucket_width: float = 32.0,
) -> LinkageResult:
    ckpt = StageCheckpointer(spark, checkpoint_dir)
    emb = ckpt.stage("embeddings", lambda: derive_embeddings(files, dim=dim))
    eng = HubnessKnn(
        PipelineConfig(
            n_candidates=n_candidates,
            k=k,
            metric=metric,
            hubness=hubness,
            tier=tier,
            lsh_tables=lsh_tables,
            lsh_bits=lsh_bits,
            lsh_bucket_width=lsh_bucket_width,
        )
    )

    def build_candidates() -> DataFrame:
        eng.fit(emb.select("id", "vec"))
        # hubness-reduced rank + the kNN pass's RAW distance for absolute
        # gating, + the sha invariant of the query row
        return eng.ranked(k).join(_query_sha(emb), "query_id")

    cands = ckpt.stage("candidates", build_candidates)
    eng.release()

    def build_pairs() -> DataFrame:
        p = cands.filter(F.col("rank") <= k)
        if max_dist is not None:
            p = p.filter(F.col("raw_dist") <= max_dist)
        return (
            p.select(
                F.least("query_id", "cand_id").alias("src_id"),
                F.greatest("query_id", "cand_id").alias("tgt_id"),
            )
            .filter(F.col("src_id") != F.col("tgt_id"))
            .distinct()
        )

    pairs = ckpt.stage("pairs", build_pairs)

    def build_clusters() -> DataFrame:
        return C.connected_components(
            pairs, nodes=emb.select("id", "content_sha"),
            pair_cols=("src_id", "tgt_id"),
        )

    clusters = ckpt.stage("clusters", build_clusters)
    return LinkageResult(emb, cands, pairs, clusters, ckpt)


@dataclass
class AlignmentResult:
    src_embeddings: DataFrame
    tgt_embeddings: DataFrame
    forward: DataFrame
    matches: DataFrame
    checkpointer: StageCheckpointer


def align_files(
    spark: SparkSession,
    src_files: DataFrame,
    tgt_files: DataFrame,
    *,
    dim: int = 32,
    k: int = 5,
    n_candidates: int = 10,
    hubness: str = "csls",
    metric: str = "euclidean",
    tier: str = "pandas",
    max_dist: float | None = None,
    mutual: bool = True,
    checkpoint_dir: str | None = None,
    # table/bit counts calibrated like link_files; the bucket width
    # defaults to None so HubnessKnn auto-calibrates it from the ACTUAL
    # corpus distance scale (estimate_bucket_width) — a hardcoded width
    # tuned to one corpus silently yields ~zero cross-space candidates
    # on a corpus with a different scale. Pass a float only when the
    # corpus scale is known (e.g. the synth fixture's 32.0).
    lsh_tables: int = 12,
    lsh_bits: int = 6,
    lsh_bucket_width: float | None = None,
) -> AlignmentResult:
    """Dual-space entity ALIGNMENT — the reference's headline use case
    (/root/reference/kiez/kiez.py:19: hubness-reduced kNN "to compare
    entity embeddings of two knowledge graphs"): every source entity is
    matched to target entities, never source-to-source.

    forward: hubness-reduced source->target top-k (the hits@k table).
    matches: 1:1 link proposals — forward rank-1, optionally required to
    be MUTUAL best (also rank-1 in the independently hubness-reduced
    target->source direction; the standard reciprocal-best filter that
    trades recall for precision), optionally gated on the forward
    stage's carried raw distance. Stages run through the checkpointer
    like link_files.
    """
    ckpt = StageCheckpointer(spark, checkpoint_dir)
    src_emb = ckpt.stage("src_embeddings", lambda: derive_embeddings(src_files, dim=dim))
    tgt_emb = ckpt.stage("tgt_embeddings", lambda: derive_embeddings(tgt_files, dim=dim))

    def knn(name: str, a: DataFrame, b: DataFrame) -> DataFrame:
        eng = HubnessKnn(
            PipelineConfig(
                n_candidates=n_candidates, k=k, metric=metric,
                hubness=hubness, tier=tier,
                lsh_tables=lsh_tables, lsh_bits=lsh_bits,
                lsh_bucket_width=lsh_bucket_width,
            )
        )

        def build() -> DataFrame:
            eng.fit(a.select("id", "vec"), b.select("id", "vec"))
            # re-attach the query side's content_sha so the per-corpus sha
            # invariant is checkable on this stage too (every query id
            # emits a top-k group, so the DISTINCT sha set equals the
            # embedding stage's — the same threading link_files does for
            # its candidates stage)
            return eng.ranked(k).join(_query_sha(a), "query_id")

        out = ckpt.stage(name, build)
        eng.release()
        return out

    fwd = knn("forward", src_emb, tgt_emb)

    def build_matches() -> DataFrame:
        best = fwd.filter(F.col("rank") == 1).select(
            F.col("query_id").alias("src_id"),
            F.col("cand_id").alias("tgt_id"),
            "dist",
            "raw_dist",
        )
        if mutual:
            bwd = knn("backward", tgt_emb, src_emb)
            bwd_best = bwd.filter(F.col("rank") == 1).select(
                F.col("cand_id").alias("src_id"),
                F.col("query_id").alias("tgt_id"),
            )
            best = best.join(bwd_best, ["src_id", "tgt_id"])
        if max_dist is not None:
            best = best.filter(F.col("raw_dist") <= max_dist)
        return best.select("src_id", "tgt_id", "dist")

    matches = ckpt.stage("matches", build_matches)
    return AlignmentResult(src_emb, tgt_emb, fwd, matches, ckpt)
