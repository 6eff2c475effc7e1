#!/usr/bin/env python3
"""spark-submit entrypoint for the record-linkage pipeline (north_rule:
"run via spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
  zip -r kiez_spark.zip kiez_spark
  spark-submit --py-files kiez_spark.zip jobs/run_linkage.py \\
      --input  s3://bucket/repos_files/              \\
      --output s3://bucket/clusters/                 \\
      --checkpoint-dir s3://bucket/ckpt/run-001/     \\
      --k 5 --n-candidates 10 --hubness csls --max-dist 12.0

Usage (local smoke, synthetic input):
  spark-submit jobs/run_linkage.py --synthetic 10000 \\
      --output /tmp/clusters --checkpoint-dir /tmp/ckpt

The input is the input_hint table (repo, path, commit, lang, content) as
parquet/Iceberg; output is (id, component, content_sha) cluster
assignments. Resume: re-running with the same --checkpoint-dir picks up
after the last complete stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# spark-submit puts jobs/ (not the repo root) on sys.path; when the
# package isn't shipped via --py-files, fall back to the repo checkout
try:  # pragma: no cover
    import kiez_spark  # noqa: F401
except ModuleNotFoundError:  # pragma: no cover
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kiez_spark import state  # noqa: E402

# ---------------------------------------------------------------------
# INCREMENT MODE (embedding-space twin of jobs/run_er.py's production
# loop — never re-cluster 10^12 files from scratch): a base run with
# --state-dir persists embeddings (id, vec, content_sha), the frozen LSH
# signature index and the cluster assignments as APPEND-ONLY ver=N
# parquet deltas, plus the frozen pair-rule params (metric, max_dist,
# LSH tables/bits/bucket_width/seed). A later --increment run links ONLY
# the new batch: batch x corpus candidates through the persisted
# signature table plus batch x batch (corpus x corpus never re-pairs),
# gated on the RAW distance, then a touched-component-only merge.
#
# Pair rule in state mode = LSH bucket collision + absolute distance
# gate — deliberately LOCAL (per-pair decidable), which is what makes
# chained increments EXACTLY equal a from-scratch state-mode run on the
# combined corpus (signature join is deterministic from the frozen
# seed; union of AxA, AxB, BxB collisions == (A∪B)x(A∪B) collisions).
# The hubness rank gate of the batch pipeline is corpus-GLOBAL (ranks
# shift as the corpus grows) and therefore not increment-exact; hubness
# runs stay on the stage-checkpointed batch path above.
# The state layout, versioning and crash safety: kiez_spark/state.py.
#
# SURVIVOR RULE DIFFERS BY MODE (deliberate, documented): state/
# increment/stream modes elect keep_id = min(id) per component
# (clustering.decisions_from_assignment with no quality score: the
# state assignment is min-id labelled, so keep_id = component) — a
# LOCAL rule, stable under increments (a cluster's survivor only
# changes when a lower id joins it). The batch
# --write-decisions path elects by quality_features score (ties ->
# min id), which needs the document TEXT — not part of the persisted
# embedding state, and not increment-stable (a later batch's higher-
# quality doc would retroactively flip old decisions). Consumers
# migrating from batch decisions to the state loop must expect keep_id
# to change from best-quality to lowest-id for the same clusters.
# ---------------------------------------------------------------------


def _lsh_gated_pairs(sig_q, sig_x, emb_q, emb_x, params, exclude_self):
    """The state-mode pair rule: signature-table collision candidates,
    exact-rescored and gated at max_dist; canonical unordered pairs."""
    from pyspark.sql import functions as F

    from kiez_spark.operators import lsh as L

    c = L.lsh_candidates_from_index(
        sig_q, sig_x, emb_q.select("id", "vec"), emb_x.select("id", "vec"),
        params["metric"], exclude_self=exclude_self,
    )
    return (
        c.filter(F.col("dist") <= float(params["max_dist"]))
        .select(
            F.least("query_id", "cand_id").alias("a_id"),
            F.greatest("query_id", "cand_id").alias("b_id"),
        )
        .filter("a_id != b_id")
        .distinct()
    )


def _write_link_state(state_dir, ver, emb, sig, assign, params, base=1):
    state.write_delta(
        state_dir, ver, {"emb": emb, "sig": sig, "assign": assign},
        params, base,
    )


def _read_link_state(spark, state_dir, ver, base=1):
    params, deltas = state.read(spark, state_dir, ver, base)
    return (params, deltas("emb").drop("ver"), deltas("sig").drop("ver"),
            state.latest_wins(deltas("assign"), "id"))


def _snapshot(spark, state_dir, ver, base):
    """--compact-state tables: the live deltas, assign latest-wins."""
    _, emb, sig, assign = _read_link_state(spark, state_dir, ver, base)
    return {"emb": emb, "sig": sig, "assign": assign}, ("rows", "emb")


def _derive_emb(files, dim):
    """(embeddings as an eager localCheckpoint, {"sha_violations": n}):
    the same pass checks the kernel's hashlib sha256 per row against the
    JVM's sha2(content), a real python-vs-JVM integrity check."""
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import materialise, sha_violations
    from kiez_spark.synth import derive_embeddings

    emb, sha = materialise(
        derive_embeddings(files, dim=dim).join(
            files.select(F.col("row_id").alias("id"), "content"), "id"
        ),
        sha_violations("content"),
    )
    return emb.drop("content"), sha


def _run_state_base(args, spark, files):
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import materialise
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import lsh as L

    if args.max_dist is None:
        raise SystemExit("--state-dir requires --max-dist (the pair gate)")
    emb, sha = _derive_emb(files, args.dim)
    is_cos = args.metric in ("cosine", "cos")
    bw = args.lsh_bucket_width
    if bw is None and not is_cos:
        bw = L.estimate_bucket_width(emb, seed=args.lsh_seed)
    params = {
        "dim": args.dim,
        "metric": args.metric,
        "max_dist": args.max_dist,
        "n_tables": args.lsh_tables,
        "n_bits": args.lsh_bits,
        "bucket_width": bw if bw is not None else 2.0,
        "seed": args.lsh_seed,
    }
    sig = L.signatures(
        emb, params["metric"], n_tables=params["n_tables"],
        n_bits=params["n_bits"], bucket_width=params["bucket_width"],
        seed=params["seed"],
    ).localCheckpoint()
    pairs = _lsh_gated_pairs(sig, sig, emb, emb, params, exclude_self=True)
    # every node has one assignment row, so rows is the node count
    assign, summary = materialise(
        C.connected_components(
            pairs, nodes=emb.select("id"), pair_cols=("a_id", "b_id")
        ),
        F.count(F.lit(1)).alias("rows"), C.n_components().alias("components"),
    )
    decisions = C.decisions_from_assignment(assign)
    report = {"mode": "state_base", **summary, **sha}
    _write_link_state(
        args.state_dir, 1, emb.select("id", "vec", "content_sha"), sig,
        assign.select("id", "component"), params,
    )
    report["state_version"] = 1
    decisions.write.mode("overwrite").parquet(args.output)
    print(json.dumps(report))
    return 0


def _linkage_increment(spark, files_batch, state_dir, output_dir):
    """Link ONE batch of repos_files rows against the persisted state —
    the core behind --increment and --stream-input. Re-delivered row_ids
    (already in the corpus state) are dropped up front, so at-least-once
    replay is a no-op (same argument as jobs/run_er.py)."""
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import materialise
    from kiez_spark.operators import clustering as C
    from kiez_spark.operators import lsh as L

    ver, base = state.live_version(state_dir, "--increment")
    params, emb_c, sig_c, assign = _read_link_state(spark, state_dir, ver, base)

    files_batch, counts = state.drop_known(files_batch, "row_id", emb_c.select("id"))
    report = {"mode": "increment", "base_version": ver, **counts}
    emb_b, sha = _derive_emb(files_batch, params["dim"])
    sig_b = L.signatures(
        emb_b, params["metric"], n_tables=params["n_tables"],
        n_bits=params["n_bits"], bucket_width=params["bucket_width"],
        seed=params["seed"],
    ).localCheckpoint()
    cross = _lsh_gated_pairs(sig_b, sig_c, emb_b, emb_c, params, False)
    intra = _lsh_gated_pairs(sig_b, sig_b, emb_b, emb_b, params, True)
    matched, counts = materialise(
        cross.unionByName(intra).distinct(),
        F.count(F.lit(1)).alias("matched_pairs"),
    )
    report.update(counts)

    merged, changed = C.merge_components_with_delta(
        assign.select("id", "component"), matched,
        batch_nodes=emb_b.select(F.col("id").alias("doc_id")),
    )
    merged, counts = materialise(merged, C.n_components().alias("clusters"))
    decisions = C.decisions_from_assignment(merged)
    # min-id decisions keep one survivor per cluster
    report["clusters"] = report["survivors"] = counts["clusters"]
    report.update(sha)

    _write_link_state(
        state_dir, ver + 1, emb_b.select("id", "vec", "content_sha"),
        sig_b, changed, params, base=base,
    )
    report["new_version"] = ver + 1
    decisions.write.mode("overwrite").parquet(output_dir)
    return report


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet/Iceberg path of repos_files")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic rows instead of --input")
    ap.add_argument("--output",
                    help="cluster/decision parquet dir (required except "
                         "with --compact-state)")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--n-candidates", type=int, default=10)
    ap.add_argument("--hubness", default="csls")
    ap.add_argument("--metric", default="euclidean")
    # no "blocked": the job has no blocking column to pass as block_col
    ap.add_argument("--tier", default="pandas",
                    choices=["pandas", "lsh"])
    ap.add_argument("--dim", type=int, default=32)
    ap.add_argument("--max-dist", type=float, default=None)
    ap.add_argument("--evaluate-gold", action="store_true",
                    help="with --synthetic: report pairwise F1 vs planted gold")
    ap.add_argument("--write-decisions", default=None, metavar="PATH",
                    help="also write the survivor decision table (id, "
                    "component, keep_id, is_survivor) — keeper = highest "
                    "quality_features score over content, ties -> min id")
    ap.add_argument("--state-dir", default=None,
                    help="persist embeddings/LSH index/assignments as "
                         "ver=N deltas for increments (pair rule: LSH "
                         "collision + --max-dist gate)")
    state.add_mode_args(
        ap, "link a new batch against the --state-dir state",
        "parquet dir consumed as a file stream; each micro-batch runs the "
        "--increment core",
    )
    ap.add_argument("--lsh-tables", type=int, default=12)
    ap.add_argument("--lsh-bits", type=int, default=6)
    ap.add_argument("--lsh-bucket-width", type=float, default=None,
                    help="None = auto-calibrate from the base corpus "
                         "(frozen into the state params)")
    ap.add_argument("--lsh-seed", type=int, default=42)
    ap.add_argument("--target-input", default=None, metavar="PATH",
                    help="second repos_files table: switch to dual-space "
                    "ALIGNMENT (source->target mutual-best matches, never "
                    "source-to-source); output = (src_id, tgt_id, dist). "
                    "With --synthetic, PATH 'mutated' aligns against a "
                    "one-token-edit copy with planted gold links.")
    args = state.parse_args(ap, argv)

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("kiez-spark-linkage").getOrCreate()
    try:
        return _run(args, ap, spark)
    finally:
        if owns_session:
            spark.stop()


def _run(args, ap, spark):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kiez_spark import synth
    from kiez_spark.linkage import link_files
    from kiez_spark.operators import evaluate as E
    from kiez_spark.operators import clustering as C

    if args.stream_input:
        return state.run_stream(
            spark, args.stream_input, "row_id bigint, content string",
            args.output, args.checkpoint_dir,
            lambda files, out: _linkage_increment(
                spark, files, args.state_dir, out
            ),
        )
    if args.compact_state:
        return state.compact(spark, args.state_dir, _snapshot)

    if args.synthetic:
        files = synth.repos_files(spark, n=args.synthetic)
    elif args.input:
        files = spark.read.parquet(args.input)
        if "row_id" not in files.columns:
            files = files.withColumn("row_id", F.monotonically_increasing_id())
    else:
        ap.error("one of --input / --synthetic is required")

    if args.increment:
        report = _linkage_increment(
            spark, files.select("row_id", "content"), args.state_dir,
            args.output,
        )
        print(json.dumps(report))
        return 0
    if args.state_dir:
        return _run_state_base(args, spark, files)

    if args.target_input:
        from kiez_spark.linkage import align_files

        if args.synthetic and args.target_input == "mutated":
            tgt_files = synth.mutated_copy(files)
        else:
            tgt_files = spark.read.parquet(args.target_input)
            if "row_id" not in tgt_files.columns:
                tgt_files = tgt_files.withColumn(
                    "row_id", F.monotonically_increasing_id()
                )
        ares = align_files(
            spark, files, tgt_files, dim=args.dim, k=args.k,
            n_candidates=args.n_candidates, hubness=args.hubness,
            metric=args.metric, tier=args.tier, max_dist=args.max_dist,
            checkpoint_dir=args.checkpoint_dir,
        )
        ares.matches.write.mode("overwrite").parquet(args.output)
        report = {"matches": ares.checkpointer.rows["matches"]}
        if args.checkpoint_dir:
            # source and target are distinct corpora: enforce the sha
            # invariant within each space, not across them. forward
            # carries the src shas, backward the tgt shas (align_files
            # threads content_sha through both kNN stages), so each
            # group compares >= 2 sha-carrying stages — a real check,
            # not a vacuous single-stage group.
            report["sha_invariant_ok"] = ares.checkpointer.sha_invariant_ok(
                groups=[
                    ["src_embeddings", "forward"],
                    ["tgt_embeddings", "backward"],
                ]
            )
        if args.evaluate_gold and args.synthetic:
            f1 = E.pairwise_f1(
                ares.matches.select("src_id", "tgt_id"),
                synth.gold_alignment(files),
                pred_cols=("src_id", "tgt_id"),
            ).first()
            report["pairwise_f1"] = f1.f1
        print(json.dumps(report))
        return 0

    res = link_files(
        spark, files, dim=args.dim, k=args.k, n_candidates=args.n_candidates,
        hubness=args.hubness, metric=args.metric, tier=args.tier,
        max_dist=args.max_dist, checkpoint_dir=args.checkpoint_dir,
    )
    summary = Observation()
    res.clusters.observe(
        summary, C.n_components().alias("components")
    ).write.mode("overwrite").parquet(args.output)
    report = {"rows": res.checkpointer.rows["clusters"], **summary.get}
    if args.write_decisions:
        from kiez_spark.operators.text_analysis import quality_features

        qual = quality_features(files, id_col="row_id", text_col="content")
        decisions = C.decisions_from_assignment(
            res.clusters.select("id", "component"),
            quality=qual.select("doc_id", "quality"),
        )
        decisions.write.mode("overwrite").parquet(args.write_decisions)
        # the election keeps one survivor per component
        report["survivors"] = report["components"]
    if args.checkpoint_dir:
        report["sha_invariant_ok"] = res.checkpointer.sha_invariant_ok()
    if args.evaluate_gold and args.synthetic:
        f1 = E.pairwise_f1(
            E.clusters_to_pairs(res.clusters), synth.gold_pairs(files),
            pred_cols=("u", "v"),
        ).first()
        report["pairwise_f1"] = f1.f1
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
