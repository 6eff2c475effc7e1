"""Versioned state store behind the jobs' incremental modes.

The three spark-submit jobs (``jobs/run_er.py``, ``jobs/run_linkage.py``,
``jobs/run_curation.py``) keep their increment state in one directory
layout. Every run APPENDS one version and rewrites nothing in place, so a
daily increment writes O(batch) state rows, never O(corpus)::

    S/params.json        job params frozen at the base run (rewritten only
                         by a base write, ver == base; increments never
                         touch them)
    S/<table>/ver=N/     version N's rows of each of the job's tables
    S/VERSION            "N" or "N B": the highest COMPLETE version N and
                         the first version B a reader scans (B > 1 after
                         a compaction; everything older was folded into
                         the ver=B snapshot)

The job tables:

    run_er        docs (doc_id, text, content_sha); posting_raw (k, id),
                  the version's UNCAPPED blocking postings; stats (k, df),
                  the version's per-key df contribution; assign
                  (id, component), changed rows only, latest ver wins
    run_linkage   emb (id, vec, content_sha); sig, the frozen-seed LSH
                  signatures; assign (id, component), changed rows only,
                  latest ver wins
    run_curation  index (doc_id, sh, sig), the minhash index; shas
                  (doc_id, content_sha); assign (doc_id, survivor_id),
                  latest ver wins; tombstones (doc_id), survivors
                  retracted by a merge (a log, not read state)

Crash safety. A write lands the table dirs first, then ``params.json``,
then ``VERSION``; the two files are each replaced by one atomic
``os.replace`` of a temp file. Readers scan only ``B <= ver <= N``, so a
killed increment's (or compaction's) partial ver=N+1 is never read, and
version and base, living in one file, can never disagree. ``compact``
writes the job's snapshot tables at N+1 and only then flips VERSION to
"N+1 N+1": until the flip the old state stays fully live, after it the
folded deltas are never read again, and reads fan in over the versions
since the last compaction, not since day 0.
"""

from __future__ import annotations

import contextlib
import json
import os


def read_version(state_dir):
    """(version, base) named by VERSION; (0, 1) when there is none."""
    vf = os.path.join(state_dir, "VERSION")
    if not os.path.exists(vf):
        return 0, 1
    with open(vf) as fh:
        parts = fh.read().split()
    return int(parts[0]), int(parts[1]) if len(parts) > 1 else 1


def live_version(state_dir, flag):
    """(version, base) of an existing state; exits if there is none."""
    ver, base = read_version(state_dir)
    if ver < 1:
        raise SystemExit(f"{flag} requires a base run's --state-dir state")
    return ver, base


def _replace(path, write):
    """Write ``path`` through ``write(fh)`` on a temp file, then one atomic
    rename: a killed or failed write leaves the previous file intact."""
    tmp = path + ".tmp"
    try:
        with open(tmp, "w") as fh:
            write(fh)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def _write_tables(state_dir, ver, tables):
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(
            os.path.join(state_dir, name, f"ver={ver}")
        )


def _flip(state_dir, ver, base):
    _replace(
        os.path.join(state_dir, "VERSION"),
        lambda fh: fh.write(f"{ver} {base}" if base > 1 else str(ver)),
    )


def write_delta(state_dir, ver, tables, params, base=1):
    """Append version ``ver``: the ``{name: DataFrame}`` tables, then
    ``params.json`` on a base write (ver == base: a base re-run into an
    existing state must refresh the frozen params, not keep stale ones
    beside the rebuilt state) or when it is missing, then VERSION."""
    _write_tables(state_dir, ver, tables)
    pf = os.path.join(state_dir, "params.json")
    if ver == base or not os.path.exists(pf):
        _replace(pf, lambda fh: json.dump(params, fh))
    _flip(state_dir, ver, base)


def read(spark, state_dir, ver, base=1):
    """(params, deltas): the frozen params, and ``deltas(name)``, the union
    of table ``name``'s versions ``base <= ver <= VERSION`` with the
    partition column ``ver`` kept (``latest_wins`` orders by it)."""
    from pyspark.sql import functions as F

    with open(os.path.join(state_dir, "params.json")) as fh:
        params = json.load(fh)

    def deltas(name):
        return spark.read.parquet(os.path.join(state_dir, name)).filter(
            (F.col("ver") <= ver) & (F.col("ver") >= base)
        )

    return params, deltas


def latest_wins(df, key):
    """The highest-``ver`` row per ``key`` (a later version re-points the
    rows it changed), without the ``ver`` column."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(F.col("ver").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn", "ver")
    )


def drop_known(batch, key, known):
    """(``batch`` minus the ``key``s in ``known``, {batch_docs,
    batch_docs_new}) from one materialising pass; ``known`` holds unique
    ids (a re-delivered id never enters the state)."""
    from pyspark.sql import functions as F

    from kiez_spark.checkpoint import materialise

    is_new = F.col("_known").isNull()
    marked, counts = materialise(
        batch.join(known.select(F.col(known.columns[0]).alias(key),
                                F.lit(True).alias("_known")), key, "left"),
        F.count(F.lit(1)).alias("batch_docs"),
        F.count(F.when(is_new, 1)).alias("batch_docs_new"),
    )
    return marked.filter(is_new).drop("_known"), counts


def compact(spark, state_dir, snapshot):
    """Fold the live versions into one snapshot at N+1 and advance the
    read base to it. ``snapshot(spark, state_dir, ver, base)`` returns
    the job's ``({name: DataFrame}, (report key, name))``: the tables to
    write and the one whose row count the report names, observed on its
    snapshot write. Prints the report."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    ver, base = live_version(state_dir, "--compact-state")
    tables, (key, name) = snapshot(spark, state_dir, ver, base)
    seen = Observation()
    tables[name] = tables[name].observe(seen, F.count(F.lit(1)).alias(key))
    _write_tables(state_dir, ver + 1, tables)
    _flip(state_dir, ver + 1, ver + 1)
    print(json.dumps({
        "mode": "compact", "state_version": ver + 1, "base": ver + 1,
        "folded_versions": ver - base + 1, **seen.get,
    }))
    return 0


def run_stream(spark, source, schema, output, checkpoint_dir, increment):
    """Continuous increments: a parquet-directory file stream of
    ``schema`` rows, one file per micro-batch (foreachBatch,
    availableNow). Each micro-batch runs ``increment(docs, out_dir)``,
    the job's increment core, with its output under
    ``<output>/epoch=<id>/``. Prints every epoch's report, then
    ``{"mode": "stream", "epochs": n}``.

    Structured Streaming's checkpoint (default ``<output>/_stream_ckpt``)
    gives at-least-once foreachBatch execution; each job's increment core
    makes a replayed epoch a no-op, so at-least-once is safe."""
    reports = []

    def handle(batch_df, epoch_id):
        # EAGER barrier: the micro-batch frame is a LogicalRDD, and the
        # increment core's lazy localCheckpoints cannot rewrite a plan
        # that nests one (the key-not-found analysis failure documented
        # in clustering.merge_components_with_delta) — materialize it
        # clean first
        rep = increment(
            batch_df.localCheckpoint(),
            os.path.join(output, f"epoch={epoch_id}"),
        )
        rep["epoch"] = epoch_id
        reports.append(rep)
        print(json.dumps(rep))

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source)
        .writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(output, "_stream_ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    print(json.dumps({"mode": "stream", "epochs": len(reports)}))
    return 0


def add_mode_args(ap, increment_help, stream_help):
    """The three state modes: mutually exclusive, each needs --state-dir
    (``parse_args`` checks it before any SparkSession starts)."""
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--increment", action="store_true", help=increment_help)
    g.add_argument("--stream-input", default=None, help=stream_help)
    g.add_argument("--compact-state", action="store_true",
                   help="fold all live state deltas into one snapshot "
                        "version and advance the read base")


def parse_args(ap, argv):
    """``ap.parse_args`` plus the mode rules: a state mode needs
    --state-dir, and every mode but --compact-state needs --output."""
    args = ap.parse_args(argv)
    for flag, on in (("--increment", args.increment),
                     ("--stream-input", args.stream_input),
                     ("--compact-state", args.compact_state)):
        if on and not args.state_dir:
            ap.error(f"{flag} requires --state-dir")
    if not args.compact_state and not args.output:
        ap.error("--output is required")
    return args
