#!/usr/bin/env python3
"""spark-submit entrypoint for the corpus-curation pipeline — the
training-data twin of jobs/run_linkage.py.

documents(doc_id, text)
  -> stage "scrubbed":   URL/e-mail masking (+ per-doc hit counts)
  -> stage "quality":    Gopher-style keep/drop decision with reasons
  -> stage "exact":      sha256 exact dedup (min-id survivor per group)
  -> stage "neardup":    MinHash-LSH banded pairs -> connected
                         components -> quality-ranked survivor election
  -> stage "curated":    surviving docs + deterministic train/val/test
                         hash split

Every stage runs through StageCheckpointer (with --checkpoint-dir:
resume + per-stage rows/signature metrics + per-partition lineage). The
JSON report prints the stages' row counts, the split counts observed on
the output write and the drop-reason histogram — the monitoring surface
of a production curation run.

Usage (local smoke):
  spark-submit jobs/run_curation.py --synthetic 2000 \\
      --output /tmp/curated --checkpoint-dir /tmp/cur_ckpt

Incremental mode (the daily-batch pattern): a base run with --state-dir
persists the minhash index + content shas of EVERY distinct-content
quality-passing doc as APPEND-ONLY ver=N parquet partitions (each
increment writes only its own batch's rows — O(batch) state I/O per
day, never O(corpus)) plus frozen pipeline params. --increment then
curates ONLY the new batch: scrub -> frozen quality gate -> exact dedup
within the batch AND against the corpus shas -> banded minhash join
against the stored corpus index (batch x corpus only; corpus x corpus
never re-pairs; already-shipped docs stay canonical) -> within-batch
connected components with component-level corpus drops and
survivor-merge tombstones -> frozen deterministic split. With merges
subtracted, base + increments equal a full run over the union EXACTLY
(tests/test_curation_increment.py).

  spark-submit jobs/run_curation.py --input day0.parquet \\
      --output /tmp/cur0 --state-dir /tmp/cur_state
  spark-submit jobs/run_curation.py --increment --input day1.parquet \\
      --output /tmp/cur1 --state-dir /tmp/cur_state

Streaming mode drives the SAME increment core from a parquet file
stream (one file per micro-batch, foreachBatch, availableNow):

  spark-submit jobs/run_curation.py --stream-input /data/incoming \\
      --output /tmp/cur_stream --state-dir /tmp/cur_state

foreachBatch is at-least-once; replays are safe because a re-delivered
batch sha-collides with the state its first execution wrote and curates
to zero survivors (tested).

--compact-state folds all live ver=N deltas into one snapshot version
and atomically advances the read base, so state reads scale with the
number of versions since the last compaction, not since day 0:

  spark-submit jobs/run_curation.py --compact-state \\
      --state-dir /tmp/cur_state
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:  # pragma: no cover
    import kiez_spark  # noqa: F401
except ModuleNotFoundError:  # pragma: no cover
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiez_spark import state  # noqa: E402

# ---------------------------------------------------------------- state
# Tables index, shas, assign (LATEST ver wins per doc_id: survivor merges
# re-point docs) and tombstones (survivor doc_ids RETRACTED by a merge
# event); the layout, versioning and crash safety: kiez_spark/state.py.
#
# The index and sha set cover ALL distinct-content quality-passing docs
# ever seen (the near-dup stage's input), NOT just survivors: a future
# batch doc whose only near-dup edge is to a previously DROPPED member
# of an entity must still be recognized as that entity (transitive
# recall — with a survivors-only index, banded recall would degrade to
# the single direct pair batch-doc x survivor). The sha superset also
# makes re-delivery of a whole batch an exact no-op via the sha
# anti-join, independent of banding probabilities.

_SHINGLE_N = 3
_MINHASH_SEED = 42


def _frozen_params(args):
    return {
        "min_tokens": args.min_tokens,
        "min_uniq_frac": args.min_uniq_frac,
        "jaccard_threshold": args.jaccard_threshold,
        "n_hashes": args.n_hashes,
        "bands": args.bands,
        "shingle_n": _SHINGLE_N,
        "seed": _MINHASH_SEED,
        "splits": args.splits,
    }


def _split_weights(spec):
    """--splits "train:0.9,val:0.05,test:0.05" -> {name: weight}."""
    return {
        name: float(w)
        for name, w in (part.split(":") for part in spec.split(","))
    }


def _scrubbed(docs):
    """Scrubbed docs plus the ingest content_sha: one row per doc."""
    from pyspark.sql import functions as F

    from kiez_spark.operators import curation as CUR

    return CUR.scrub_text(docs).join(
        docs.select("doc_id", F.sha2("text", 256).alias("content_sha")),
        "doc_id",
    )


def _first_per_sha(kept):
    """Exact dedup: the min-id doc of each identical-content group."""
    from pyspark.sql import functions as F

    first = kept.groupBy("content_sha").agg(F.min("doc_id").alias("doc_id"))
    return kept.join(first.select("doc_id"), "doc_id")


def _clean(exact):
    """(doc_id, text, content_sha) with the scrubbed text."""
    return exact.selectExpr("doc_id", "clean_text AS text", "content_sha")


def _elect(assign, txt):
    """Quality-ranked survivor decisions over an (id, component) table."""
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators.text_analysis import quality_features

    qual = quality_features(txt, id_col="doc_id", text_col="text")
    return C.decisions_from_assignment(
        assign.select("id", "component"),
        quality=qual.select("doc_id", "quality"),
    )


def _split(exact, decisions, weights):
    """The survivors of ``exact`` with their deterministic hash split."""
    from kiez_spark.operators import curation as CUR

    survivors = decisions.filter("is_survivor").selectExpr("id AS doc_id")
    return CUR.hash_split(_clean(exact.join(survivors, "doc_id")), weights)


def _write_curated(curated, weights, output_dir):
    """Write ``curated`` hive-partitioned by split (training readers prune
    to their split's directory) and return the non-zero per-split row
    counts observed on the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    seen = Observation()
    curated.observe(
        seen, *(F.count(F.when(F.col("split") == n, 1)).alias(n) for n in weights)
    ).write.mode("overwrite").partitionBy("split").parquet(output_dir)
    return {n: c for n, c in seen.get.items() if c}


def _write_state_delta(state_dir, ver, seen, assign, tombstones,
                       params_src, D, base=1):
    """Append version ``ver``'s delta: every distinct-content doc that
    entered this run's near-dup stage, its (doc_id, survivor_id)
    assignment rows (including re-points from merge events), and any
    tombstoned survivors. ``seen`` must carry (doc_id, text,
    content_sha); ``params_src`` is the argparse namespace (base run,
    params frozen here) or a dict (increment, already frozen);
    ``base`` is preserved from the current VERSION file."""
    params = (
        params_src if isinstance(params_src, dict)
        else _frozen_params(params_src)
    )
    idx = D.build_minhash_index(
        seen.select("doc_id", "text"),
        n_hashes=params["n_hashes"],
        shingle_n=params["shingle_n"],
        seed=params["seed"],
    )
    state.write_delta(
        state_dir, ver,
        {"index": idx, "shas": seen.select("doc_id", "content_sha"),
         "assign": assign.select("doc_id", "survivor_id"),
         "tombstones": tombstones.select("doc_id")},
        params, base,
    )


def _read_state(spark, state_dir, ver, base=1):
    params, deltas = state.read(spark, state_dir, ver, base)
    return (params, deltas("index").drop("ver"), deltas("shas").drop("ver"),
            state.latest_wins(deltas("assign"), "doc_id"))


def _snapshot(spark, state_dir, ver, base):
    """--compact-state tables. The tombstone snapshot is empty: earlier
    tombstone dirs are the retraction log, not read state."""
    _, index, shas, assign = _read_state(spark, state_dir, ver, base)
    tombstones = spark.createDataFrame([], "doc_id bigint")
    return ({"index": index, "shas": shas, "assign": assign,
             "tombstones": tombstones}, ("docs", "shas"))


def _run_increment(args, spark):
    if not args.input:
        raise SystemExit("--increment requires --input (the new batch)")
    docs = spark.read.parquet(args.input).select("doc_id", "text")
    report = _curate_increment(spark, docs, args.state_dir, args.output)
    print(json.dumps(report))
    return 0


def _curate_increment(spark, docs, state_dir, output_dir):
    """Curate ONE new batch of (doc_id, text) against the persisted
    corpus state; the reusable core behind both ``--increment`` (one
    batch per process) and ``--stream-input`` (one call per micro-batch
    inside foreachBatch). The corpus never re-pairs with itself;
    already-shipped docs stay canonical (a batch component
    near-duplicate to the corpus is dropped, never the reverse —
    training data already emitted is not retracted).

    Entity-count equality with a from-scratch run over the union is
    EXACT, not probabilistic: within-batch connected components are
    built over the full exact-deduped batch, then any component with at
    least one corpus edge is dropped WHOLE. A union-CC component that
    spans the boundary necessarily has a direct batch-to-corpus edge
    out of every batch-side sub-component (connectivity must route
    through such an edge), so the two-phase decomposition sees exactly
    the union components — tested in tests/test_curation_increment.py
    against the full-run count."""
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import StageCheckpointer
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import curation as CUR
    from kiez_spark.operators import dedup as D

    ver, base = state.live_version(state_dir, "--increment")
    params, corpus_index, corpus_shas, corpus_assign = _read_state(
        spark, state_dir, ver, base
    )

    # in-memory stages: each is materialised once, counted by that pass
    stages = StageCheckpointer(spark, None)
    scrubbed = stages.stage("scrubbed", lambda: _scrubbed(docs))
    # one scrubbed row per doc, so its count is the batch size
    report = {"mode": "increment", "base_version": ver,
              "batch_docs": stages.rows["scrubbed"]}
    clean = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
    quality = CUR.quality_filter(
        clean,
        min_tokens=params["min_tokens"],
        min_uniq_frac=params["min_uniq_frac"],
    )
    kept = stages.stage(
        "kept",
        lambda: scrubbed.join(quality.filter("keep").select("doc_id"), "doc_id"),
    )
    report["after_quality"] = stages.rows["kept"]

    # exact dedup: min-id survivor within the batch, then drop anything
    # whose content already exists in the corpus (sha anti-join — one
    # broadcast-or-shuffle join keyed on the hash, never on text)
    exact = stages.stage(
        "exact",
        lambda: _first_per_sha(kept).join(
            corpus_shas.select("content_sha"), "content_sha", "left_anti"
        ),
    )
    report["after_exact_dedup"] = stages.rows["exact"]

    # near-dup vs corpus: banded equi-join of the batch signatures
    # against the STORED index (batch x corpus only) — frozen
    # n_hashes/shingle_n/seed make the signatures comparable. Hits are
    # resolved doc -> current survivor through the assignment state, so
    # an edge to a previously DROPPED member still lands on its entity.
    txt = exact.select("doc_id", F.col("clean_text").alias("text"))
    corpus_pairs = D.minhash_lsh_join(
        txt,
        corpus_index=corpus_index,
        n_hashes=params["n_hashes"],
        bands=params["bands"],
        shingle_n=params["shingle_n"],
        threshold=params["jaccard_threshold"],
        seed=params["seed"],
    ).select("new_id", "corpus_id")
    bridge = (
        corpus_pairs.join(
            corpus_assign,
            corpus_pairs["corpus_id"] == corpus_assign["doc_id"],
        )
        .select("new_id", "survivor_id")
        .distinct()
        .localCheckpoint(eager=False)
    )

    # within-batch clustering over the WHOLE exact-deduped batch, then
    # component-level corpus drop (see docstring: this — not per-doc
    # dropping — is what makes the count equal a full union re-run)
    # shingle_n/seed passed EXPLICITLY from the frozen state params (not
    # relying on dedup.py's defaults matching _SHINGLE_N/_MINHASH_SEED):
    # within-batch pairing must use the identical signature space as the
    # persisted corpus index or increments silently diverge
    pairs = D.minhash_lsh_pairs(
        txt,
        n_hashes=params["n_hashes"],
        bands=params["bands"],
        shingle_n=params["shingle_n"],
        threshold=params["jaccard_threshold"],
        seed=params["seed"],
    ).select("src_id", "tgt_id")
    assign = C.connected_components(
        pairs, nodes=exact.select("doc_id"), pair_cols=("src_id", "tgt_id")
    ).localCheckpoint(eager=False)
    comp_bridge = (
        assign.join(bridge, assign["id"] == bridge["new_id"])
        .select("component", "survivor_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    touched = comp_bridge.select("component").distinct()
    fresh_assign = stages.stage(
        "fresh", lambda: assign.join(touched, "component", "left_anti")
    )
    report["dropped_neardup_vs_corpus"] = (
        report["after_exact_dedup"] - stages.rows["fresh"]
    )

    # merge events: a batch component bridging >= 2 shipped survivors is
    # evidence those survivors are the SAME entity (their base-time
    # evidence never connected them — the connecting docs arrived only
    # now). Union-find the bridged survivors (distributed CC over the
    # tiny survivor-pair edge set), keep the min-id canonical, tombstone
    # the rest; every doc of a tombstoned survivor re-points to the
    # canonical so future batches resolve transitively.
    s0 = comp_bridge.groupBy("component").agg(
        F.min("survivor_id").alias("_s0")
    )
    merge_edges = (
        comp_bridge.join(s0, "component")
        .filter(F.col("survivor_id") != F.col("_s0"))
        .select(
            F.col("_s0").alias("src_id"),
            F.col("survivor_id").alias("tgt_id"),
        )
    )
    merge_cc = C.connected_components(
        merge_edges,
        nodes=comp_bridge.select("survivor_id").distinct(),
        pair_cols=("src_id", "tgt_id"),
    ).localCheckpoint(eager=False)
    merge_canon = merge_cc.select(
        F.col("id").alias("_sid"), F.col("component").alias("_canon")
    )
    tombstones = stages.stage(
        "tombstones",
        lambda: merge_canon.filter("_sid != _canon").select(
            F.col("_sid").alias("doc_id")
        ),
    )
    report["merged_survivors"] = stages.rows["tombstones"]
    # corpus docs whose survivor was tombstoned re-point to the canonical
    repointed = (
        corpus_assign.join(
            merge_canon.filter("_sid != _canon"),
            corpus_assign["survivor_id"] == F.col("_sid"),
        )
        .select("doc_id", F.col("_canon").alias("survivor_id"))
    )
    # touched batch docs join their component's (unique) merge group
    comp_canon = (
        comp_bridge.join(
            merge_canon, comp_bridge["survivor_id"] == F.col("_sid")
        )
        .groupBy("component")
        .agg(F.min("_canon").alias("survivor_id"))
    )
    touched_assign = assign.join(comp_canon, "component").select(
        F.col("id").alias("doc_id"), "survivor_id"
    )

    decisions = _elect(fresh_assign, txt).localCheckpoint(eager=False)
    report["neardup_groups_gt1"] = (
        decisions.groupBy("component").count().filter("count > 1").count()
    )
    weights = _split_weights(params["splits"])
    split_counts = _write_curated(
        _split(exact, decisions, weights), weights, output_dir
    )
    report["curated_docs"] = sum(split_counts.values())
    report["split_counts"] = split_counts

    new_assign = (
        decisions.select(
            F.col("id").alias("doc_id"), F.col("keep_id").alias("survivor_id")
        )
        .unionByName(touched_assign)
        .unionByName(repointed)
    )
    _write_state_delta(
        state_dir, ver + 1, _clean(exact), new_assign, tombstones, params, D,
        base=base,
    )
    report["state_version"] = ver + 1
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of documents(doc_id, text)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of --input")
    ap.add_argument("--output",
                    help="survivor parquet dir (required except with "
                         "--compact-state)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--min-uniq-frac", type=float, default=0.30)
    ap.add_argument("--jaccard-threshold", type=float, default=0.7)
    ap.add_argument("--n-hashes", type=int, default=32)
    ap.add_argument("--bands", type=int, default=8)
    ap.add_argument("--splits", default="train:0.9,val:0.05,test:0.05")
    ap.add_argument("--state-dir", default=None,
                    help="persist survivor index/shas/params for increments")
    state.add_mode_args(
        ap, "curate a new batch against the --state-dir state",
        "parquet dir consumed as a file stream; each micro-batch curates "
        "incrementally (foreachBatch)",
    )
    args = state.parse_args(ap, argv)

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("kiez-spark-curation").getOrCreate()
    try:
        if args.increment:
            return _run_increment(args, spark)
        if args.stream_input:
            return state.run_stream(
                spark, args.stream_input, "doc_id bigint, text string",
                args.output, args.checkpoint_dir,
                lambda docs, out: _curate_increment(
                    spark, docs, args.state_dir, out
                ),
            )
        if args.compact_state:
            return state.compact(spark, args.state_dir, _snapshot)
        return _run_batch(args, ap, spark)
    finally:
        if owns_session:
            spark.stop()


def _run_batch(args, ap, spark):
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import StageCheckpointer
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import curation as CUR
    from kiez_spark.operators import dedup as D

    if args.synthetic:
        from kiez_spark import synth

        # repos_files' content column doubles as a documents corpus with
        # planted near-duplicate clusters (known dedup ground truth)
        files = synth.repos_files(spark, n=args.synthetic)
        docs = files.select(
            F.col("row_id").alias("doc_id"), F.col("content").alias("text")
        )
    elif args.input:
        docs = spark.read.parquet(args.input).select("doc_id", "text")
    else:
        ap.error("one of --input / --synthetic is required")

    ckpt = StageCheckpointer(spark, args.checkpoint_dir)
    scrubbed = ckpt.stage("scrubbed", lambda: _scrubbed(docs))
    # one scrubbed row per doc, so its count is the input size
    report: dict = {"input_docs": ckpt.rows["scrubbed"]}

    def build_quality():
        clean = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
        return CUR.quality_filter(
            clean, min_tokens=args.min_tokens,
            min_uniq_frac=args.min_uniq_frac,
        )

    quality = ckpt.stage("quality", build_quality)
    report["drop_reasons"] = {
        r.reason: r.cnt
        for r in quality.groupBy("reason").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    kept = scrubbed.join(
        quality.filter("keep").select("doc_id"), "doc_id"
    )
    # keep == (reason == "ok")
    report["after_quality"] = report["drop_reasons"].get("ok", 0)

    exact = ckpt.stage("exact", lambda: _first_per_sha(kept))
    report["after_exact_dedup"] = ckpt.rows["exact"]

    def build_neardup():
        txt = exact.select("doc_id", F.col("clean_text").alias("text"))
        # 32 hashes x 8 bands: ~0.997 banding recall per near-pair at
        # jaccard ~0.85 (one-token edits), so clusters stay connected
        # explicit shingle_n/seed: the base run must pair in the same
        # signature space the state params freeze (see _curate_increment)
        pairs = D.minhash_lsh_pairs(
            txt, n_hashes=args.n_hashes, bands=args.bands,
            shingle_n=_SHINGLE_N, threshold=args.jaccard_threshold,
            seed=_MINHASH_SEED,
        ).select("src_id", "tgt_id")
        return _elect(C.connected_components(
            pairs, nodes=exact.select("doc_id"), pair_cols=("src_id", "tgt_id")
        ), txt)

    decisions = ckpt.stage("neardup", build_neardup)
    report["neardup_groups_gt1"] = (
        decisions.groupBy("component").count().filter("count > 1").count()
    )
    weights = _split_weights(args.splits)
    curated = ckpt.stage("curated", lambda: _split(exact, decisions, weights))
    split_counts = _write_curated(curated, weights, args.output)
    report["curated_docs"] = sum(split_counts.values())
    if args.state_dir:
        _write_state_delta(
            args.state_dir,
            1,
            _clean(exact),
            decisions.select(
                F.col("id").alias("doc_id"),
                F.col("keep_id").alias("survivor_id"),
            ),
            spark.createDataFrame([], "doc_id bigint"),
            args,
            D,
        )
        report["state_version"] = 1
    report["split_counts"] = split_counts
    if args.checkpoint_dir:
        report["lineage_consistent"] = ckpt.lineage_consistent()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
