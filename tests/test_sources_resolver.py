"""OpenEA loaders (S1-S3), resolver (S5), matrix export (N10),
minkowski-p (N9), LSH index persistence (S6), config-from-JSON (S4),
and the spark-submit job entrypoint."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from kiez_spark import matrices, resolver, synth
from kiez_spark.operators import knn as K
from kiez_spark.operators import lsh as L
from kiez_spark.pipeline import PipelineConfig
from kiez_spark.sources import openea


def test_openea_split_and_remap(spark, tmp_path):
    """Semantics of /root/reference/tests/io/test_data_loading.py:8-50:
    4x3 common matrix, two id-maps, links -> dense re-ids + remapped links."""
    emb = np.arange(12, dtype=float).reshape(4, 3)
    np.save(tmp_path / "emb.npy", emb)
    (tmp_path / "kg1").write_text("1\ta\n3\tb\n")
    (tmp_path / "kg2").write_text("0\tx\n2\ty\n")
    (tmp_path / "links").write_text("a\tx\nb\ty\n")

    e = openea.load_embeddings_npy(spark, str(tmp_path / "emb.npy"))
    kg1 = openea.split_embeddings(e, openea.load_id_map(spark, str(tmp_path / "kg1")))
    kg2 = openea.split_embeddings(e, openea.load_id_map(spark, str(tmp_path / "kg2")))
    got1 = {(r.new_id, r.row_idx) for r in kg1.collect()}
    assert got1 == {(0, 1), (1, 3)}  # dense re-numbering in row order
    links = openea.remap_links(
        openea.load_links(spark, str(tmp_path / "links")), kg1, kg2
    )
    assert {(r.src_id, r.tgt_id) for r in links.collect()} == {(0, 0), (1, 1)}


def test_resolver_aliases():
    assert resolver.resolve_hubness("CSLS") == "csls"
    assert resolver.resolve_hubness("LocalScaling") == "ls"
    assert resolver.resolve_hubness("DisSimLocal") == "dsl"
    assert resolver.resolve_hubness(None) == "none"
    assert resolver.resolve_algorithm("Faiss") == "pandas"
    assert resolver.resolve_algorithm("NMSLIB") == "lsh"
    assert resolver.resolve_algorithm("SklearnNearestNeighbors") == "pandas"
    with pytest.raises(ValueError):
        resolver.resolve_hubness("bogus")
    eng = resolver.make_engine("Faiss", "CSLS", n_candidates=8, k=3)
    assert eng.config.tier == "pandas" and eng.config.hubness == "csls"


def test_blocked_tier_requires_block_col():
    """tier='blocked' without a block_col fails at configuration, not
    at the first kneighbors call."""
    with pytest.raises(ValueError, match="block_col"):
        PipelineConfig(tier="blocked")
    with pytest.raises(ValueError, match="block_col"):
        resolver.make_engine("blocked")
    eng = resolver.make_engine("blocked", block_col="block")
    assert eng.config.tier == "blocked"


def test_run_linkage_rejects_blocked_tier_before_spark(monkeypatch):
    """run_linkage has no blocking column, so --tier blocked is an
    argparse error (exit 2) raised before any Spark session starts; so
    is the retired --tier expr."""
    from pyspark.sql import SparkSession

    import jobs.run_linkage as job

    def no_spark(self):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    for tier in ("blocked", "expr"):
        with pytest.raises(SystemExit) as exc:
            job.main(["--synthetic", "200", "--output", "unused",
                      "--tier", tier])
        assert exc.value.code == 2, tier


def test_config_from_json(tmp_path):
    p = tmp_path / "conf.json"
    p.write_text(json.dumps({"n_candidates": 7, "k": 3, "hubness": "nicdm"}))
    cfg = PipelineConfig.from_json(str(p))
    assert (cfg.n_candidates, cfg.k, cfg.hubness) == (7, 3, "nicdm")


def test_matrix_export_padding(spark):
    nn = spark.createDataFrame(
        [(0, 10, 0.5, 1), (0, 11, 0.7, 2), (2, 12, 0.1, 1)],
        "query_id bigint, cand_id bigint, dist double, rank int",
    )
    dist, ind = matrices.to_matrices(nn, n_queries=3, k=2)
    assert ind.tolist() == [[10, 11], [-1, -1], [12, -1]]
    assert np.isnan(dist[1]).all() and np.isnan(dist[2, 1])
    only_ind = matrices.to_matrices(nn, n_queries=3, k=2, return_distance=False)
    assert only_ind.tolist() == ind.tolist()


def test_minkowski_p(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])], "id bigint, vec array<double>"
    )
    nn = K.knn_join_pandas(df, df, k=1, metric="minkowski_3", exclude_self=True)
    got = nn.first().dist
    assert got == pytest.approx((27 + 64) ** (1 / 3), rel=1e-12)
    nn1 = K.knn_join_pandas(df, df, k=1, metric="manhattan", exclude_self=True)
    assert nn1.first().dist == pytest.approx(7.0)


def test_lsh_index_persistence(spark, tmp_path):
    files = synth.repos_files(spark, n=120)
    emb = synth.derive_embeddings(files, dim=32).select("id", "vec")
    sigs = L.signatures(emb, "cosine", n_tables=4, n_bits=10)
    path = str(tmp_path / "lsh_index")
    L.save_index(sigs, path)
    loaded = L.load_index(spark, path)
    direct = L.lsh_candidates(
        emb, emb, "cosine", n_tables=4, n_bits=10, exclude_self=True
    )
    via_index = L.lsh_candidates_from_index(
        loaded, loaded, emb, emb, "cosine", exclude_self=True
    )
    a = {(r.query_id, r.cand_id) for r in direct.collect()}
    b = {(r.query_id, r.cand_id) for r in via_index.collect()}
    assert a == b


def test_lsh_lazy_projection_and_empty_input(spark):
    """The projection matrix is built lazily inside the kernel (no
    plan-construction first() probe job), so (a) an EMPTY queries frame
    returns an empty result instead of crashing on first()==None, and
    (b) two frames hashed independently still land in identical buckets
    (the seeded matrix is a pure function of dim)."""
    files = synth.repos_files(spark, n=60)
    emb = synth.derive_embeddings(files, dim=32).select("id", "vec")
    empty = emb.filter(F.col("id") < 0)
    out = L.lsh_topk(empty, emb, k=3, metric="euclidean", bucket_width=32.0)
    assert out.columns == ["query_id", "cand_id", "dist", "rank"]
    assert out.count() == 0
    assert L.signatures(empty, "cosine").count() == 0
    # independent lazy builds agree: self-join candidates are symmetric
    # and every id collides with itself when not excluded
    cands = L.lsh_candidates(emb, emb, "cosine", n_tables=4, n_bits=8)
    pairs = {(r.query_id, r.cand_id) for r in cands.collect()}
    ids = [r.id for r in emb.select("id").collect()]
    assert all((i, i) in pairs for i in ids)
    assert all((b, a) in pairs for a, b in pairs)


def test_job_entrypoint(spark, tmp_path):
    """Drive the spark-submit main() in-process (same SparkSession)."""
    import jobs.run_linkage as job

    rc = job.main([
        "--synthetic", "200", "--output", str(tmp_path / "out"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--max-dist", "12.0", "--evaluate-gold",
    ])
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 200


def test_dense_row_number_null_order_values(spark):
    """NULL order values are kept (bucket -1, sorted first) — matching
    Window.orderBy's asc-nulls-first — instead of being dropped by the
    bucket join."""
    from kiez_spark.functions.ranking import dense_row_number

    rows = [(None,), (3,), (1,), (None,), (2,)]
    df = spark.createDataFrame(rows, "v int")
    out = dense_row_number(df, "v", out_col="rn").collect()
    assert len(out) == 5  # nothing dropped
    by_v = {r.v: r.rn for r in out if r.v is not None}
    null_rns = sorted(r.rn for r in out if r.v is None)
    assert null_rns == [0, 1]  # nulls first
    assert (by_v[1], by_v[2], by_v[3]) == (2, 3, 4)
