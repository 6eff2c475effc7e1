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

Every stage checkpoints through StageCheckpointer (resume + per-stage
rows/signature metrics + per-partition lineage); re-running with the
same --checkpoint-dir picks up after the last complete stage. The JSON
report prints per-stage row counts and the drop-reason histogram — the
monitoring surface of a production curation run.

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
             "tombstones": tombstones}, ("docs", shas))


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

    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import curation as CUR
    from kiez_spark.operators import dedup as D
    from kiez_spark.operators.text_analysis import quality_features

    ver, base = state.live_version(state_dir, "--increment")
    params, corpus_index, corpus_shas, corpus_assign = _read_state(
        spark, state_dir, ver, base
    )

    report = {"mode": "increment", "base_version": ver,
              "batch_docs": docs.count()}

    scrubbed = CUR.scrub_text(docs).join(
        docs.select("doc_id", F.sha2("text", 256).alias("content_sha")),
        "doc_id",
    ).localCheckpoint(eager=False)
    clean = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
    quality = CUR.quality_filter(
        clean,
        min_tokens=params["min_tokens"],
        min_uniq_frac=params["min_uniq_frac"],
    )
    kept = scrubbed.join(quality.filter("keep").select("doc_id"), "doc_id")
    report["after_quality"] = kept.count()

    # exact dedup: min-id survivor within the batch, then drop anything
    # whose content already exists in the corpus (sha anti-join — one
    # broadcast-or-shuffle join keyed on the hash, never on text)
    batch_first = (
        kept.groupBy("content_sha").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact = kept.join(batch_first, "doc_id")
    exact = exact.join(
        corpus_shas.select("content_sha"), "content_sha", "left_anti"
    ).localCheckpoint(eager=False)
    report["after_exact_dedup"] = exact.count()

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
    fresh_assign = assign.join(
        touched, "component", "left_anti"
    ).localCheckpoint(eager=False)
    report["dropped_neardup_vs_corpus"] = (
        report["after_exact_dedup"] - fresh_assign.count()
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
    tombstones = merge_canon.filter("_sid != _canon").select(
        F.col("_sid").alias("doc_id")
    ).localCheckpoint(eager=False)
    report["merged_survivors"] = tombstones.count()
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

    qual = quality_features(txt, id_col="doc_id", text_col="text")
    decisions = C.decisions_from_assignment(
        fresh_assign.select(F.col("id"), F.col("component")),
        quality=qual.select("doc_id", "quality"),
    ).localCheckpoint(eager=False)
    report["neardup_groups_gt1"] = (
        decisions.groupBy("component").count().filter("count > 1").count()
    )
    survivors = decisions.filter("is_survivor").select(
        F.col("id").alias("doc_id")
    )

    weights = {}
    for part in params["splits"].split(","):
        name, w = part.split(":")
        weights[name] = float(w)
    curated = CUR.hash_split(
        exact.join(survivors, "doc_id").select(
            "doc_id", F.col("clean_text").alias("text"), "content_sha"
        ),
        weights,
    ).localCheckpoint(eager=False)
    curated.write.mode("overwrite").partitionBy("split").parquet(output_dir)
    report["curated_docs"] = curated.count()
    report["split_counts"] = {
        r.split: r.cnt
        for r in curated.groupBy("split").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }

    new_assign = (
        decisions.select(
            F.col("id").alias("doc_id"), F.col("keep_id").alias("survivor_id")
        )
        .unionByName(touched_assign)
        .unionByName(repointed)
    )
    _write_state_delta(
        state_dir,
        ver + 1,
        exact.select(
            "doc_id", F.col("clean_text").alias("text"), "content_sha"
        ),
        new_assign,
        tombstones,
        params,
        D,
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
    from kiez_spark.operators.text_analysis import quality_features

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

    ckpt = (
        StageCheckpointer(spark, args.checkpoint_dir)
        if args.checkpoint_dir
        else None
    )

    def run_stage(name, build):
        if ckpt:
            return ckpt.stage(name, build)
        # un-checkpointed runs: each stage feeds several report actions
        # (counts, histograms, the final write) — cut the lineage once,
        # lazily, so the scrub/dedup plans run one time instead of per
        # action (the same guard link_files applies to its embeddings)
        return build().localCheckpoint(eager=False)

    report: dict = {"input_docs": docs.count()}

    scrubbed = run_stage(
        "scrubbed",
        lambda: CUR.scrub_text(docs).join(
            docs.select("doc_id", F.sha2("text", 256).alias("content_sha")),
            "doc_id",
        ),
    )

    def build_quality():
        clean = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
        return CUR.quality_filter(
            clean, min_tokens=args.min_tokens,
            min_uniq_frac=args.min_uniq_frac,
        )

    quality = run_stage("quality", build_quality)
    report["drop_reasons"] = {
        r.reason: r.cnt
        for r in quality.groupBy("reason").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    kept = scrubbed.join(
        quality.filter("keep").select("doc_id"), "doc_id"
    )
    report["after_quality"] = kept.count()

    def build_exact():
        # min-id survivor per identical-content group; uniques pass thru
        w_first = (
            kept.groupBy("content_sha")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        return kept.join(w_first, "doc_id")

    exact = run_stage("exact", build_exact)
    report["after_exact_dedup"] = exact.count()

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
        assign = C.connected_components(
            pairs, nodes=exact.select("doc_id"), pair_cols=("src_id", "tgt_id")
        )
        qual = quality_features(txt, id_col="doc_id", text_col="text")
        decisions = C.decisions_from_assignment(
            assign.select(F.col("id"), F.col("component")),
            quality=qual.select("doc_id", "quality"),
        )
        return decisions

    decisions = run_stage("neardup", build_neardup)
    report["neardup_groups_gt1"] = (
        decisions.groupBy("component").count().filter("count > 1").count()
    )

    def build_curated():
        survivors = decisions.filter("is_survivor").select(
            F.col("id").alias("doc_id")
        )
        weights = {}
        for part in args.splits.split(","):
            name, w = part.split(":")
            weights[name] = float(w)
        return CUR.hash_split(
            exact.join(survivors, "doc_id").select(
                "doc_id", F.col("clean_text").alias("text"), "content_sha"
            ),
            weights,
        )

    curated = run_stage("curated", build_curated)
    # hive-partition by split: downstream training readers scan only
    # their split's directory (partition pruning at the file listing)
    curated.write.mode("overwrite").partitionBy("split").parquet(args.output)
    report["curated_docs"] = curated.count()
    if args.state_dir:
        _write_state_delta(
            args.state_dir,
            1,
            exact.select(
                "doc_id", F.col("clean_text").alias("text"), "content_sha"
            ),
            decisions.select(
                F.col("id").alias("doc_id"),
                F.col("keep_id").alias("survivor_id"),
            ),
            spark.createDataFrame([], "doc_id bigint"),
            args,
            D,
        )
        report["state_version"] = 1
    report["split_counts"] = {
        r.split: r.cnt
        for r in curated.groupBy("split").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    if ckpt:
        report["lineage_consistent"] = ckpt.lineage_consistent()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
