"""The jobs' one stage runner: each stage is materialised once and that
pass counts its rows (``rows[name]``). Without a directory the stage is
an eager ``localCheckpoint()`` (``materialise``; an observation under a
lazy one reads 0 after the first action). With one, north_rule: "each
stage checkpoints per-partition lineage and metrics to enable
resume-from-checkpoint" — a stage costs its parquet write, and the run's
stages are verified together by ONE aggregate over the union of their
re-read files (``verify``); every count and signature comes from one of
the two:

- ``<dir>/<stage>``: the stage output. ``stage()`` short-circuits when the
  directory already holds a _SUCCESS marker: it is read back instead of
  recomputed, so a killed run resumes from the last complete stage;
  outputs are byte-stable because every operator in this engine is
  deterministic (tie-breaks included). A resumed stage's ``rows`` come
  from its parquet footers.
- ``<dir>/_written``: one row per stage write (``WRITTEN_SCHEMA``),
  appended as soon as the write returns, so a crash cannot lose it.
  ``rows`` and ``sig`` (xor of xxhash64 row hashes over all columns, an
  order-insensitive content signature) are observed on the write itself
  (``DataFrame.observe``); ``n_partitions`` is the re-read's planned
  partition count (no job; empty partitions count, so the aggregate
  cannot give it); ``wall_sec``/``ts`` are the driver's clock.
- ``<dir>/_metrics``: one row per verified stage (``METRICS_SCHEMA``):
  its ``_written`` values plus ``sha_sig`` — the xor over the DISTINCT
  ``content_sha`` values when the stage carries that invariant column,
  else 0 — so sha equality through stages is checkable from the metrics
  table alone (BASELINE.json input_hint).
- ``<dir>/_partition_metrics``: ``rows`` and ``sig`` of every non-empty
  partition of each re-read stage (``PARTITION_METRICS_SCHEMA``).

``verify()`` runs once per run: at the first ``sha_invariant_ok()``,
``lineage_consistent()``, ``metrics()`` or ``partition_metrics()`` call,
or when a job main calls it before it returns. It covers every stage of
the run that has a ``_written`` row and no ``_metrics`` row, resumed
stages included, so a run killed between a stage write and the pass
verifies that stage when it resumes. One grouping-sets aggregate with
one shuffle groups the union of the stage re-reads by (stage, partition
id) and by (stage, content_sha), and each stage's distinct-sha xor is
observed over its output. ``_metrics`` and ``_partition_metrics`` are
complete once ``verify()`` has returned; ``_metrics`` rows are written
after the partition rows, and a partition row repeated by a pass that
was killed before its ``_metrics`` rows is read once.

The metric tables hold a few rows per stage, so the driver writes them
with pyarrow (one parquet file per table and pass, no Spark job) and
reads them back for ``sha_invariant_ok()`` and ``lineage_consistent()``.
Directories whose tables Spark's writer appended to read the same way.
Stage directories are local paths (``_SUCCESS`` is probed with
``os.path``).
"""

from __future__ import annotations

import functools
import os
import time
import uuid
from typing import Callable

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "stage string, rows bigint, sig bigint, sha_sig bigint, "
    "n_partitions int, wall_sec double, ts double"
)
PARTITION_METRICS_SCHEMA = (
    "stage string, partition_id int, rows bigint, sig bigint"
)
WRITTEN_SCHEMA = (
    "stage string, rows bigint, sig bigint, n_partitions int, "
    "wall_sec double, ts double"
)
_ARROW_TYPES = {
    "string": pa.string(),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "double": pa.float64(),
}


def _arrow_schema(ddl: str) -> pa.Schema:
    return pa.schema(
        [(n, _ARROW_TYPES[t]) for n, t in (f.split() for f in ddl.split(", "))]
    )


def _row_sig(df: DataFrame):
    """Order-insensitive content signature: xor of row hashes over all
    columns (0 for no rows)."""
    return F.coalesce(F.bit_xor(F.xxhash64(*df.columns)), F.lit(0))


def _read_side(
    stages: dict[str, DataFrame],
) -> tuple[list[tuple[str, int, int, int]], dict[str, int]]:
    """([(stage, partition_id, rows, sig)] of the non-empty partitions,
    {stage: sha_sig}) from one aggregate over the union of the re-read
    ``stages``. Each union child projects (stage, partition id, row hash,
    sha) itself, so its partition id is the stage's own: a union runs
    each child's partitions under the child's indices. Grouping sets
    (stage, partition_id) and (stage, _sha) share one shuffle; a row of
    the second set has a NULL partition_id and stands for one distinct
    sha of its stage (NULL included, as DISTINCT counts it), so the xor
    of their hashes — observed per stage as the rows stream out, not
    collected — is the stage's distinct-sha xor (0 without content_sha)."""
    def project(name: str, out: DataFrame) -> DataFrame:
        sha = "content_sha" if "content_sha" in out.columns else None
        return out.select(
            F.lit(name).alias("stage"),
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64(*out.columns).alias("_h"),
            (F.col(sha) if sha else F.lit(None).cast("string")).alias("_sha"),
        )

    with_sha = [n for n, out in stages.items() if "content_sha" in out.columns]
    shas = Observation()
    parts = (
        functools.reduce(
            DataFrame.unionAll, [project(n, out) for n, out in stages.items()]
        )
        .groupingSets(
            [["stage", "partition_id"], ["stage", "_sha"]],
            "stage",
            "partition_id",
            "_sha",
        )
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.bit_xor("_h"), F.lit(0)).alias("sig"),
        )
    )
    if with_sha:
        parts = parts.observe(
            shas,
            *[
                F.coalesce(
                    F.bit_xor(
                        F.when(
                            F.col("partition_id").isNull()
                            & (F.col("stage") == name),
                            F.xxhash64("_sha"),
                        )
                    ),
                    F.lit(0),
                ).alias(f"sha{i}")
                for i, name in enumerate(with_sha)
            ],
        )
    rows = (
        parts.filter(F.col("partition_id").isNotNull())
        .select("stage", "partition_id", "rows", "sig")
        .collect()
    )
    sha_sigs = dict.fromkeys(stages, 0)
    if with_sha:
        seen = shas.get
        sha_sigs.update({n: seen[f"sha{i}"] for i, n in enumerate(with_sha)})
    return [tuple(r) for r in rows], sha_sigs


def sha_violations(text: str = "text", sha: str = "content_sha") -> Column:
    """The jobs' one per-row sha check, as an observable aggregate: rows
    whose ``sha`` is not the JVM's sha256 of ``text``, null-safe. ``sha``
    may come from another path (the embedding kernel's hashlib) or from
    stored state."""
    return F.count(
        F.when(~F.sha2(F.col(text), 256).eqNullSafe(F.col(sha)), 1)
    ).alias("sha_violations")


def materialise(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` as an eager localCheckpoint, and the aggregates ``metrics``
    observed by that same pass."""
    seen = Observation()
    out = df.observe(seen, *metrics).localCheckpoint()
    return out, seen.get


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str | None):
        self.spark = spark
        self.base_dir = base_dir
        self.rows: dict[str, int] = {}
        # stages of this run awaiting verify(): name -> re-read output
        self._unverified: dict[str, DataFrame] = {}
        if base_dir:
            os.makedirs(base_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def is_complete(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Run-or-resume one stage. ``build`` is only invoked on a miss;
        ``rows[name]`` is set either way."""
        if not self.base_dir:
            out, seen = materialise(build(), F.count(F.lit(1)).alias("rows"))
            self.rows[name] = seen["rows"]
            return out
        path = self._path(name)
        if self.is_complete(name):
            # the parquet footers hold the count: no Spark job
            self.rows[name] = pads.dataset(path, format="parquet").count_rows()
            out = self.spark.read.parquet(path)
            if name in self._stages("_written") - self._stages("_metrics"):
                self._unverified[name] = out
            return out
        t0 = time.time()
        df = build()
        written = Observation()
        df.observe(
            written, F.count(F.lit(1)).alias("rows"), _row_sig(df).alias("sig")
        ).write.format("parquet").mode("overwrite").save(path)
        # the written schema spares the re-read its schema-inference job
        out = self.spark.read.schema(df.schema).parquet(path)
        totals = written.get
        self.rows[name] = totals["rows"]
        self._append(
            "_written",
            WRITTEN_SCHEMA,
            [
                (
                    name,
                    totals["rows"],
                    totals["sig"],
                    out.rdd.getNumPartitions(),
                    time.time() - t0,
                    time.time(),
                )
            ],
        )
        self._unverified[name] = out
        return out

    def verify(self) -> None:
        """The run's one read-side pass over every stage awaiting it:
        per-partition lineage (north_rule: row count + content signature
        for every partition of the stage output, so a resumed run can
        verify partition-level integrity, not just stage totals) and the
        distinct-sha xor, recorded with the stage's ``_written`` values
        as its ``_metrics`` row. A no-op once nothing awaits it."""
        if not self._unverified:
            return
        parts, sha_sigs = _read_side(self._unverified)
        latest = {
            r["stage"]: r
            for r in sorted(
                self._rows("_written", WRITTEN_SCHEMA), key=lambda r: r["ts"]
            )
        }
        self._append("_partition_metrics", PARTITION_METRICS_SCHEMA, parts)
        self._append(
            "_metrics",
            METRICS_SCHEMA,
            [
                (
                    name,
                    latest[name]["rows"],
                    latest[name]["sig"],
                    sha_sigs[name],
                    latest[name]["n_partitions"],
                    latest[name]["wall_sec"],
                    latest[name]["ts"],
                )
                for name in self._unverified
            ],
        )
        self._unverified = {}

    def _append(self, table: str, ddl: str, rows: list[tuple]) -> None:
        """Add ``rows`` to ``table`` as one more parquet file. It is
        written under a dot name, which both Spark and pyarrow skip, and
        renamed into place, so no reader sees a partial file."""
        d = os.path.join(self.base_dir, table)
        os.makedirs(d, exist_ok=True)
        schema = _arrow_schema(ddl)
        t = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(t, os.path.join(d, "." + name))
        os.replace(os.path.join(d, "." + name), os.path.join(d, name))

    def _rows(self, table: str, ddl: str) -> list[dict]:
        return pq.read_table(
            os.path.join(self.base_dir, table), schema=_arrow_schema(ddl)
        ).to_pylist()

    def _stages(self, table: str) -> set[str]:
        """The stage names ``table`` holds rows for (none if absent)."""
        path = os.path.join(self.base_dir, table)
        if not os.path.isdir(path):
            return set()
        return set(pq.read_table(path, columns=["stage"]).column(0).to_pylist())

    def metrics(self) -> DataFrame:
        self.verify()
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            os.path.join(self.base_dir, "_metrics")
        )

    def partition_metrics(self) -> DataFrame:
        self.verify()
        return self.spark.read.schema(PARTITION_METRICS_SCHEMA).parquet(
            os.path.join(self.base_dir, "_partition_metrics")
        )

    def lineage_consistent(self) -> bool:
        """Every stage's write-side totals (rows, sig observed on the
        write) must equal the sum / xor of the partition metrics taken
        from the re-read files."""
        self.verify()
        # keyed by partition: a pass killed before its _metrics rows
        # leaves partition rows that the resumed pass writes again
        parts = {
            (r["stage"], r["partition_id"]): (r["rows"], r["sig"])
            for r in self._rows("_partition_metrics", PARTITION_METRICS_SCHEMA)
        }
        totals: dict[str, tuple[int, int]] = {}
        for (stage, _), (rows, sig) in parts.items():
            n, x = totals.get(stage, (0, 0))
            totals[stage] = (n + rows, x ^ sig)
        return all(
            totals[m["stage"]] == (m["rows"], m["sig"])
            for m in self._rows("_metrics", METRICS_SCHEMA)
            if m["stage"] in totals
        )

    def sha_invariant_ok(self, groups: list[list[str]] | None = None) -> bool:
        """True iff every stage that carries content_sha has the same xor
        signature — the per-row sha256 set was preserved end-to-end.

        ``groups``: for pipelines over MORE THAN ONE corpus (dual-space
        alignment: source and target legitimately have different content
        sets), pass the stage names grouped by corpus; the invariant is
        then enforced within each group instead of globally."""
        self.verify()
        shas = [
            (m["stage"], m["sha_sig"])
            for m in self._rows("_metrics", METRICS_SCHEMA)
            if m["sha_sig"]
        ]
        if groups is None:
            return len({s for _, s in shas}) <= 1
        return all(
            len({s for stage, s in shas if stage in names}) <= 1
            for names in groups
        )
