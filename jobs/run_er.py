#!/usr/bin/env python3
"""spark-submit entrypoint for the probabilistic record-linkage pipeline —
the string-feature twin of jobs/run_linkage.py (which links in embedding
space). Implements the north-rule shape end-to-end on the ER string tier:

files(row_id, content)
  -> stage "blocked":  meta-blocking candidate pairs (3-gram shingle CBS
                       weights through a df-capped inverted index — never
                       an all-pairs product)
  -> stage "compared": per-pair agreement vector (prefix/suffix equality,
                       bounded levenshtein, size band) — all JVM-side
                       column expressions over candidates only
  -> EM:               Fellegi-Sunter (p, m) fitted by EM on the <=2^k
                       agreement-pattern sufficient statistics with u
                       PINNED from deterministic random pairings (the
                       blocked candidates are match-dominated, so the
                       free two-class mixture would be degenerate), then
                       every pair scored with the fitted log2 weights
                       and thresholded at posterior 0.5
                       (weight > log2((1-p)/p))
  -> stage "clusters": matched pairs -> connected components (driver
                       finish, star rounds above _LOCAL_EDGES) ->
                       survivor election
  -> optional --evaluate-gold: pairwise precision/recall/F1 and B-cubed
                       vs the planted clusters.

One aggregate over the docs counts them. Every stage runs through
StageCheckpointer (with --checkpoint-dir: resume + per-stage
rows/signature metrics); the report's counts are the stages' row counts
and metrics observed on the output write.

INCREMENT MODE (the 10^12-file production loop — never re-cluster from
scratch): a base run with --state-dir persists the blocking index (raw
postings + per-key df), the corpus docs, the cluster assignments and
the fitted FS parameters as APPEND-ONLY ver=N parquet deltas. A later
run with --increment --state-dir links ONLY the new batch: batch x
corpus + batch x batch candidates through the persisted index (corpus
x corpus never re-pairs), scoring with the SAVED m/u/threshold (no
re-fit — score consistency across increments), and a
touched-component-only cluster merge. The state write is O(batch):
the batch's docs/postings/df rows plus ONLY the changed assignment
rows (latest-version-wins at read); the df-capped posting table is
reconstructed from (raw union, summed df), which equals chaining
update_blocking_index exactly. Clusters are monotone (merge, never
split). With --top-n 0 on the base run, chained increments are
provably equal to a full re-run on the combined corpus
(tests/test_er_job.py). --compact-state folds the live deltas into one
snapshot version and advances the read base. The state layout and its
crash-safety argument: kiez_spark/state.py.

Usage (local smoke):
  spark-submit jobs/run_er.py --synthetic 800 \\
      --output /tmp/er --checkpoint-dir /tmp/er_ckpt --evaluate-gold
  # base + increment:
  spark-submit jobs/run_er.py --input base.parquet --output /tmp/er0 \\
      --state-dir /tmp/er_state --top-n 0
  spark-submit jobs/run_er.py --increment --input batch.parquet \\
      --output /tmp/er1 --state-dir /tmp/er_state
  # stream (one file per micro-batch, foreachBatch, availableNow):
  spark-submit jobs/run_er.py --stream-input /data/incoming \\
      --output /tmp/er_stream --state-dir /tmp/er_state
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

try:  # pragma: no cover
    import kiez_spark  # noqa: F401
except ModuleNotFoundError:  # pragma: no cover
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiez_spark import state  # noqa: E402

FIELDS = ["prefix_eq", "suffix_eq", "size_close", "lev_small"]


def _keys_expr():
    from pyspark.sql import functions as F

    from kiez_spark.functions import text as T

    return F.transform(T.shingles(T.tokens(F.col("text")), 3), T.token_hash)


def _agreements(docs, pairs, lev_bound, extra_cols=()):
    """Agreement vector over any (a_id, b_id) pair set; ``docs`` supplies
    the texts+shas for BOTH sides — shared by the blocked candidates, the
    random u-estimation pairs and the increment batch so m and u are
    always measured under the identical comparator."""
    from pyspark.sql import functions as F

    a = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.col("content_sha").alias("a_sha"),
    )
    b = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.col("content_sha").alias("b_sha"),
    )
    lev = F.levenshtein("a_text", "b_text", lev_bound)
    return (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .withColumn(
            "prefix_eq",
            F.substring("a_text", 1, 32) == F.substring("b_text", 1, 32),
        )
        .withColumn(
            "suffix_eq",
            F.expr("right(a_text, 32) = right(b_text, 32)"),
        )
        .withColumn(
            "size_close",
            F.abs(F.length("a_text") - F.length("b_text")) <= 8,
        )
        .withColumn("lev_small", (lev >= 0) & (lev <= lev_bound))
        .select("a_id", "b_id", *extra_cols, "a_sha", "b_sha", *FIELDS)
    )


def _write_state_delta(state_dir, ver, docs, posting_raw, stats, assign,
                       params, base=1):
    state.write_delta(
        state_dir, ver,
        {"docs": docs, "posting_raw": posting_raw, "stats": stats,
         "assign": assign},
        params, base,
    )


def _read_state(spark, state_dir, ver, base=1):
    """(params, docs, posting, stats, assign) reconstructed from the
    live deltas: posting = raw union filtered to total df <= cap (cap
    membership depends only on total frequency, so this equals chaining
    update_blocking_index, which re-filters the union on the updated
    df); stats = per-key df sums; assign = latest version wins per id."""
    from pyspark.sql import functions as F

    params, deltas = state.read(spark, state_dir, ver, base)
    docs = deltas("docs").drop("ver")
    raw = deltas("posting_raw").drop("ver")
    stats = deltas("stats").groupBy("k").agg(F.sum("df").alias("df"))
    posting = raw.join(
        stats.filter(F.col("df") <= int(params["df_cap"])).select("k"), "k"
    ).select("k", "id")
    assign = state.latest_wins(deltas("assign"), "id")
    return params, docs, posting, stats, assign


def _snapshot(spark, state_dir, ver, base):
    """--compact-state tables. posting_raw is snapshotted still UNCAPPED
    (a key under cap today may cross it later), so later deltas keep
    reconstructing the cap correctly."""
    _, docs, _, stats, assign = _read_state(spark, state_dir, ver, base)
    _, deltas = state.read(spark, state_dir, ver, base)
    raw = deltas("posting_raw").drop("ver")
    return ({"docs": docs, "posting_raw": raw, "stats": stats,
             "assign": assign}, ("docs", "docs"))


def _load_docs(args, spark, need_gold):
    from pyspark.sql import functions as F

    gold = gold_assign = None
    if args.synthetic:
        from kiez_spark import synth

        files = synth.repos_files(spark, n=args.synthetic)
        docs = files.select(
            F.col("row_id").alias("doc_id"), F.col("content").alias("text")
        )
        if need_gold:
            gold = synth.gold_pairs(files)
            gold_assign = synth.gold_clusters(files)
    elif args.input:
        docs = spark.read.parquet(args.input).select("doc_id", "text")
    else:
        raise SystemExit("one of --input / --synthetic is required")
    # the per-row invariant the north rule demands carried through every
    # stage: sha256(content) at ingest
    return docs.withColumn("content_sha", F.sha2("text", 256)), gold, gold_assign


def _run_increment(args, spark):
    batch, _, _ = _load_docs(args, spark, need_gold=False)
    report = _er_increment(spark, batch, args.state_dir, args.output)
    print(json.dumps(report))
    return 0


def _er_increment(spark, batch, state_dir, output_dir):
    """Link ONE new batch of (doc_id, text, content_sha) against the
    persisted state; the reusable core behind both ``--increment`` (one
    batch per process) and ``--stream-input`` (one call per micro-batch
    inside foreachBatch). Docs whose id already exists in the corpus
    state are dropped up front (ids are immutable in this model), which
    makes at-least-once re-delivery a no-op: a replayed micro-batch
    re-links zero docs, writes empty state deltas and cannot inflate
    the per-key df stats (the cap contract stays exact)."""
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import materialise, sha_violations
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import er as ER

    ver, vbase = state.live_version(state_dir, "--increment")
    params, corpus_docs, posting, stats, assign = _read_state(
        spark, state_dir, ver, vbase
    )

    batch, counts = state.drop_known(batch, "doc_id", corpus_docs.select("doc_id"))
    report = {"mode": "increment", "base_version": ver, **counts}

    inc = ER.incremental_blocking_pairs(
        batch, _keys_expr(), posting, stats,
        df_cap=params["df_cap"], min_cbs=params["min_cbs"],
    )
    # per-row sha invariant across corpus + batch: the stored shas
    # against their stored texts, checked by the pass that materialises
    # the comparator's doc table
    docs_all, sha = materialise(
        corpus_docs.unionByName(batch), sha_violations()
    )
    compared = _agreements(docs_all, inc, params["lev_bound"])

    fs_fields = {f: (params["m"][f], params["u"][f]) for f in params["fields"]}
    is_match = F.col("weight_micro") > params["threshold_micro"]
    scored, counts = materialise(
        ER.fs_scores(compared, fs_fields).select("a_id", "b_id", is_match.alias("m")),
        F.count(F.lit(1)).alias("candidate_pairs"),
        F.count(F.when(F.col("m"), 1)).alias("matched_pairs"),
    )
    report.update(counts)
    matched = scored.filter("m").select("a_id", "b_id")

    merged, changed = C.merge_components_with_delta(
        assign.select("id", "component"), matched,
        batch_nodes=batch.select("doc_id"),
    )
    merged, counts = materialise(merged, C.n_components().alias("clusters"))
    decisions = C.decisions_from_assignment(merged)
    # min-id decisions keep one survivor per cluster
    report["clusters"] = report["survivors"] = counts["clusters"]
    report.update(sha)

    # delta state write: O(batch) rows, never the corpus — the capped
    # posting table is reconstructed at read from (raw union, summed df)
    batch_raw = ER.blocking_postings_raw(batch, _keys_expr())
    batch_stats = batch_raw.groupBy("k").agg(F.count("*").alias("df"))
    _write_state_delta(
        state_dir, ver + 1, batch, batch_raw, batch_stats,
        changed, params, base=vbase,
    )
    report["new_version"] = ver + 1
    decisions.write.mode("overwrite").parquet(output_dir)
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path of docs(doc_id, text)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic files instead of --input")
    ap.add_argument("--output",
                    help="decision parquet dir (required except with "
                         "--compact-state)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--state-dir", default=None,
                    help="persist index/params/assignments for increments")
    state.add_mode_args(
        ap, "link a new batch against the --state-dir state",
        "parquet dir consumed as a file stream; each micro-batch runs the "
        "--increment core (foreachBatch, availableNow)",
    )
    ap.add_argument("--df-cap", type=int, default=64)
    ap.add_argument("--min-cbs", type=int, default=5)
    ap.add_argument("--top-n", type=int, default=10,
                    help="per-record strongest-partner prune; 0 = keep all"
                         " (required for increment == full-rerun equality)")
    ap.add_argument("--lev-bound", type=int, default=24)
    ap.add_argument("--em-iters", type=int, default=30)
    ap.add_argument("--evaluate-gold", action="store_true")
    ap.add_argument("--u-offsets", type=int, default=3,
                    help="random-pair offsets per row for u estimation")
    args = state.parse_args(ap, argv)

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import StageCheckpointer, sha_violations
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import er as ER
    from kiez_spark.operators import evaluate as EV

    spark = SparkSession.builder.appName("kiez-spark-er").getOrCreate()

    if args.stream_input:
        return state.run_stream(
            spark, args.stream_input, "doc_id bigint, text string",
            args.output, args.checkpoint_dir,
            # the ingest sha invariant, attached as _load_docs does
            lambda docs, out: _er_increment(
                spark, docs.withColumn("content_sha", F.sha2("text", 256)),
                args.state_dir, out,
            ),
        )
    if args.increment:
        return _run_increment(args, spark)
    if args.compact_state:
        return state.compact(spark, args.state_dir, _snapshot)

    docs, gold, gold_assign = _load_docs(
        args, spark, need_gold=args.evaluate_gold
    )

    # one aggregate over the ingest scan. In a batch run content_sha is
    # sha2(text) of this same scan, so sha_violations reads 0 by
    # construction; the increment checks stored shas against stored texts
    ingest = docs.agg(
        F.count(F.lit(1)).alias("input_docs"), sha_violations()
    ).first()
    report: dict = {"input_docs": ingest["input_docs"]}
    ckpt = StageCheckpointer(spark, args.checkpoint_dir)

    def build_blocked():
        return ER.metablocking_pairs(
            docs, _keys_expr(), df_cap=args.df_cap,
            min_cbs=args.min_cbs,
            top_n=args.top_n if args.top_n > 0 else None,
        )

    blocked = ckpt.stage("blocked", build_blocked)
    report["candidate_pairs"] = ckpt.rows["blocked"]

    compared = ckpt.stage(
        "compared", lambda: _agreements(docs, blocked, args.lev_bound, ("cbs",))
    )

    # u from deterministic random pairings, NOT from the candidates: the
    # meta-blocking is high-precision, so the candidate set may hold no
    # non-match class at all and free two-class EM would be degenerate
    # (the Splink fixed-u protocol; see er.fs_em docstring).
    # n_rows threaded from the ingest count so the u-estimation pairing
    # adds no full-corpus scalar scan of its own
    u_probs = ER.fs_u_probabilities(
        _agreements(
            docs,
            ER.random_pairs(
                docs, n_offsets=args.u_offsets, n_rows=report["input_docs"]
            ),
            args.lev_bound,
        ),
        FIELDS,
    )
    params, _ = ER.fs_em(
        compared, FIELDS, n_iter=args.em_iters, fixed_u=u_probs
    )
    report["em_params"] = {
        "p": round(params["p"], 6),
        "m": {k: round(v, 6) for k, v in params["m"].items()},
        "u": {k: round(v, 6) for k, v in params["u"].items()},
    }
    # a field whose fitted m does not exceed its random-pair u carries no
    # match evidence on this corpus — drop it rather than let _fs_weights
    # refuse the whole model
    kept = [f for f in FIELDS if params["m"][f] > params["u"][f]]
    report["dropped_fields"] = [f for f in FIELDS if f not in kept]
    if not kept:
        raise SystemExit("run_er: every comparison field degenerate (m <= u)")
    # posterior-0.5 decision boundary: weight > log2((1-p)/p)
    p = params["p"]
    threshold_micro = int(math.floor(1e6 * math.log2((1.0 - p) / p)))
    fs_fields = {f: (params["m"][f], params["u"][f]) for f in kept}

    def build_matched():
        return (
            ER.fs_scores(compared, fs_fields)
            .filter(F.col("weight_micro") > threshold_micro)
            .select("a_id", "b_id", "weight_micro", "a_sha", "b_sha")
        )

    matched = ckpt.stage("matched", build_matched)
    report["matched_pairs"] = ckpt.rows["matched"]
    report["fs_threshold_micro"] = threshold_micro

    def build_clusters():
        return C.survivor_decisions(
            matched.select("a_id", "b_id"),
            nodes=docs.select(F.col("doc_id").alias("id")),
            pair_cols=("a_id", "b_id"),
        )

    decisions = ckpt.stage("clusters", build_clusters)
    summary = Observation()
    decisions.observe(
        summary, C.n_components().alias("clusters")
    ).write.mode("overwrite").parquet(args.output)
    # min-id decisions keep one survivor per cluster
    report["clusters"] = report["survivors"] = summary.get["clusters"]
    # the stages' one read-side pass: the metric tables are complete
    # when the job returns
    ckpt.verify()
    report["sha_violations"] = ingest["sha_violations"]

    if gold is not None:
        pred = EV.clusters_to_pairs(decisions.select("id", "component"))
        f1_row = EV.pairwise_f1(
            pred, gold, pred_cols=("u", "v"), gold_cols=("src_id", "tgt_id")
        ).collect()[0]
        report["pairwise"] = {
            "tp": f1_row.tp, "fp": f1_row.fp, "fn": f1_row.fn,
            "precision": round(f1_row.precision, 6),
            "recall": round(f1_row.recall, 6),
            "f1": round(f1_row.f1, 6),
        }
        # record-averaged complement: pairwise over-weights big clusters
        # quadratically, B-cubed weights every record once
        b3 = EV.bcubed(
            decisions.select("id", "component"), gold_assign
        ).collect()[0]
        report["bcubed"] = {
            "precision": round(b3.b3_precision, 6),
            "recall": round(b3.b3_recall, 6),
            "f1": round(b3.b3_f1, 6),
        }

    if args.state_dir:
        raw = ER.blocking_postings_raw(docs, _keys_expr())
        raw_stats = raw.groupBy("k").agg(F.count("*").alias("df"))
        state_params = {
            "fields": kept,
            "m": params["m"],
            "u": params["u"],
            "p": params["p"],
            "threshold_micro": threshold_micro,
            "df_cap": args.df_cap,
            "min_cbs": args.min_cbs,
            "lev_bound": args.lev_bound,
        }
        _write_state_delta(
            args.state_dir, 1, docs, raw, raw_stats,
            decisions.select("id", "component"), state_params,
        )
        report["state_version"] = 1

    print(json.dumps(report))
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
