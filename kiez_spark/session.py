"""SparkSession factory tuned for the record-linkage workload.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime coalescing of the many small post-shuffle partitions at
  test scale, and skew-join splitting for hot blocking keys at full scale.
- Arrow on: every pandas-UDF kernel (distance batches, LSH signatures)
  transfers columnar batches, never rows.
- shuffle.partitions is a knob, not a constant: callers sizing a real
  cluster should set it to ~2-3x total cores; AQE coalesces the rest.
- JVM locale pinned to en-US: Spark's lower() on non-ASCII text uses the
  JVM default locale, and the Arrow text kernels' str.lower() matches it
  only outside locales with their own casing rules (a tr-TR JVM lowers
  "I" to a dotless i). Options passed in ``extra_conf`` are appended.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCALE_OPTS = "-Duser.language=en -Duser.country=US"


def get_spark(
    app_name: str = "kiez-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession. ``cores=None`` uses all cores."""
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    conf = dict(extra_conf or {})
    for k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        conf[k] = f"{_LOCALE_OPTS} {conf.get(k, '')}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
