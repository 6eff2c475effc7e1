"""The jobs' one stage runner: each stage is materialised once and that
pass counts its rows (``rows[name]``). Without a directory the stage is
an eager ``localCheckpoint()`` (``materialise``; an observation under a
lazy one reads 0 after the first action). With one, north_rule: "each
stage checkpoints per-partition lineage and metrics to enable
resume-from-checkpoint" — a stage costs its parquet write plus one
aggregate over the re-read files; every count and signature comes from
one of the two:

- ``<dir>/<stage>``: the stage output. ``stage()`` short-circuits when the
  directory already holds a _SUCCESS marker: it is read back instead of
  recomputed, so a killed run resumes from the last complete stage;
  outputs are byte-stable because every operator in this engine is
  deterministic (tie-breaks included). A resumed stage's ``rows`` come
  from its parquet footers.
- ``<dir>/_metrics``: one row per written stage (``METRICS_SCHEMA``).
  ``rows`` and ``sig`` (xor of xxhash64 row hashes over all columns, an
  order-insensitive content signature) are observed on the write itself
  (``DataFrame.observe``). ``sha_sig`` — the xor over the DISTINCT
  ``content_sha`` values when the stage carries that invariant column,
  else 0 — comes from the re-read aggregate, so sha equality through
  stages is checkable from the metrics table alone (BASELINE.json
  input_hint). ``n_partitions`` is the re-read's planned partition count
  (no job; empty partitions count, so the aggregate cannot give it);
  ``wall_sec``/``ts`` are the driver's clock.
- ``<dir>/_partition_metrics``: ``rows`` and ``sig`` of every non-empty
  partition of the re-read stage (``PARTITION_METRICS_SCHEMA``), from the
  same aggregate: one grouping-sets pass with one shuffle groups by
  partition id and by ``content_sha``, and the distinct-sha xor is
  observed over its output.

Both metric tables hold a few rows per stage, so the driver writes them
with pyarrow (one parquet file per stage, no Spark job) and reads them
back for ``sha_invariant_ok()`` and ``lineage_consistent()``. Directories
whose tables Spark's writer appended to read the same way. Stage
directories are local paths (``_SUCCESS`` is probed with ``os.path``).
"""

from __future__ import annotations

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


def _read_side(out: DataFrame) -> tuple[list[tuple[int, int, int]], int]:
    """([(partition_id, rows, sig)] of the non-empty partitions, sha_sig)
    from one aggregate over ``out``. Grouping sets (partition_id) and
    (content_sha) share one shuffle; a row of the content_sha set has a
    NULL partition_id and stands for one distinct sha (NULL included, as
    DISTINCT counts it), so the xor of their hashes — observed as the
    rows stream out, not collected — is the distinct-sha xor."""
    has_sha = "content_sha" in out.columns
    sha = F.col("content_sha") if has_sha else F.lit(None).cast("string")
    shas = Observation()
    parts = (
        out.select(
            F.spark_partition_id().alias("partition_id"),
            F.xxhash64(*out.columns).alias("_h"),
            sha.alias("_sha"),
        )
        .groupingSets(
            [["partition_id"], ["_sha"]] if has_sha else [["partition_id"]],
            "partition_id",
            "_sha",
        )
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.bit_xor("_h"), F.lit(0)).alias("sig"),
        )
        .observe(
            shas,
            F.coalesce(
                F.bit_xor(
                    F.when(F.col("partition_id").isNull(), F.xxhash64("_sha"))
                ),
                F.lit(0),
            ).alias("sha_sig"),
        )
        .filter(F.col("partition_id").isNotNull())
        .select("partition_id", "rows", "sig")
        .collect()
    )
    return [tuple(r) for r in parts], shas.get["sha_sig"]


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
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = build()
        written = Observation()
        df.observe(
            written, F.count(F.lit(1)).alias("rows"), _row_sig(df).alias("sig")
        ).write.format("parquet").mode("overwrite").save(path)
        # the written schema spares the re-read its schema-inference job
        out = self.spark.read.schema(df.schema).parquet(path)
        parts, sha_sig = _read_side(out)
        totals = written.get
        self.rows[name] = totals["rows"]
        self._append(
            "_metrics",
            METRICS_SCHEMA,
            [
                (
                    name,
                    totals["rows"],
                    totals["sig"],
                    sha_sig,
                    out.rdd.getNumPartitions(),
                    time.time() - t0,
                    time.time(),
                )
            ],
        )
        # per-partition lineage (north_rule): row count + content signature
        # for every partition of the stage output, so a resumed run can
        # verify partition-level integrity, not just stage totals
        self._append(
            "_partition_metrics",
            PARTITION_METRICS_SCHEMA,
            [(name, *p) for p in parts],
        )
        return out

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

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            os.path.join(self.base_dir, "_metrics")
        )

    def partition_metrics(self) -> DataFrame:
        return self.spark.read.schema(PARTITION_METRICS_SCHEMA).parquet(
            os.path.join(self.base_dir, "_partition_metrics")
        )

    def lineage_consistent(self) -> bool:
        """Every stage's write-side totals (rows, sig observed on the
        write) must equal the sum / xor of the partition metrics taken
        from the re-read files."""
        parts: dict[str, tuple[int, int]] = {}
        for r in self._rows("_partition_metrics", PARTITION_METRICS_SCHEMA):
            rows, sig = parts.get(r["stage"], (0, 0))
            parts[r["stage"]] = (rows + r["rows"], sig ^ r["sig"])
        return all(
            parts[m["stage"]] == (m["rows"], m["sig"])
            for m in self._rows("_metrics", METRICS_SCHEMA)
            if m["stage"] in parts
        )

    def sha_invariant_ok(self, groups: list[list[str]] | None = None) -> bool:
        """True iff every stage that carries content_sha has the same xor
        signature — the per-row sha256 set was preserved end-to-end.

        ``groups``: for pipelines over MORE THAN ONE corpus (dual-space
        alignment: source and target legitimately have different content
        sets), pass the stage names grouped by corpus; the invariant is
        then enforced within each group instead of globally."""
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
