"""Determinism across parallelism levels (SURVEY.md §5 style 3): the same
pipeline must produce byte-identical results regardless of partitioning —
the foundation of the resume-from-checkpoint and cluster-size-change
guarantees (reference analogue: cross-implementation equivalence tests)."""

import pytest
from pyspark.sql import functions as F

from kiez_spark import synth
from kiez_spark.pipeline import HubnessKnn, PipelineConfig


def run(spark, emb, n_parts):
    eng = HubnessKnn(
        PipelineConfig(n_candidates=10, k=5, hubness="csls", tier="pandas")
    )
    eng.fit(emb.repartition(n_parts))
    nn = eng.kneighbors(5)
    return sorted(
        (r.query_id, r.rank, r.cand_id, round(r.dist, 12))
        for r in nn.collect()
    )


def test_results_invariant_to_partitioning(spark):
    files = synth.repos_files(spark, n=300)
    emb = synth.derive_embeddings(files, dim=32).select("id", "vec").cache()
    a = run(spark, emb, 2)
    b = run(spark, emb, 17)
    c = run(spark, emb, 64)
    assert a == b == c


def test_blocked_tier_invariant_to_shuffle_partitions(spark):
    files = synth.repos_files(spark, n=300)
    emb = synth.derive_embeddings(files, dim=32).select("id", "vec")
    with_block = emb.withColumn("block", F.pmod(F.col("id"), F.lit(5)))
    from kiez_spark.operators import knn as K

    def go(parts):
        df = K.knn_join_blocked(
            with_block.repartition(parts), with_block, 3, "euclidean",
            block_col="block", exclude_self=True,
        )
        return sorted(
            (r.query_id, r.cand_id, round(r.dist, 12)) for r in df.collect()
        )

    assert go(3) == go(29)


@pytest.mark.parametrize("dual", [False, True], ids=["single", "dual"])
@pytest.mark.parametrize("tier", ["pandas", "blocked"])
def test_dsl_bit_identical_across_partitionings(spark, tier, dual):
    """DSL folds each query's candidate vectors into a centroid; the fold
    must not follow the shuffle order, or the last bits of the secondary
    distances change with the partitioning. Compared as float.hex."""
    files = synth.repos_files(spark, n=600)
    emb = (
        synth.derive_embeddings(files, dim=32)
        .select("id", "vec", F.pmod(F.col("id"), F.lit(3)).alias("block"))
        .localCheckpoint()
    )
    src, tgt = emb, None
    if dual:
        src, tgt = emb.filter("id % 2 = 0"), emb.filter("id % 2 = 1")

    def go(parts, shuffle):
        eng = HubnessKnn(PipelineConfig(
            n_candidates=10, k=5, hubness="dsl", tier=tier,
            block_col="block" if tier == "blocked" else None,
        ))
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
        try:
            eng.fit(src.repartition(parts),
                    None if tgt is None else tgt.repartition(parts))
            rows = sorted(
                (r.query_id, r.rank, r.cand_id, r.dist.hex())
                for r in eng.kneighbors(5).collect()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
            eng.release()
        return rows

    a = go(2, 3)
    assert a and go(17, 32) == a and go(64, 7) == a
