"""Structured-Streaming variants of the dedup/text operators.

The reference is batch-only (SURVEY.md §2.5: no streaming anywhere in
kiez), so these are [ext] training-data-pipeline operators: a document
firehose is deduplicated / fingerprinted incrementally instead of by
periodic batch reprocessing.

``dedup_stream`` is exact streaming dedup on sha256(text). With an
event-time column, state is bounded by ``dropDuplicatesWithinWatermark``
(late duplicates beyond the watermark are the accepted trade-off at
unbounded scale); without one, global ``dropDuplicates`` (unbounded
state — only for bounded backfills). Online MinHash near-dup flagging
lives in streaming/stateful.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    out = stream_df.withColumn("sha", F.sha2(F.col(text_col), 256))
    if ts_col:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["sha"]
        )
    return out.dropDuplicates(["sha"])

