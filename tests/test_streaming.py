"""Structured-Streaming dedup and window operators: file source,
availableNow trigger, memory sink — deterministic end-to-end."""

import pytest

from kiez_spark.streaming import dedup_stream as S


@pytest.fixture()
def doc_stream_dir(spark, tmp_path):
    d = tmp_path / "stream_in"
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "unique one two three")],
        "doc_id bigint, text string",
    )
    batch2 = spark.createDataFrame(
        [(3, "alpha beta gamma delta"), (4, "another distinct document here")],
        "doc_id bigint, text string",
    )
    batch1.write.mode("append").parquet(str(d))
    batch2.write.mode("append").parquet(str(d))
    return str(d)


def test_streaming_exact_dedup(spark, doc_stream_dir):
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        doc_stream_dir
    )
    deduped = S.dedup_stream(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    # doc 3 duplicates doc 1's content -> exactly 3 survivors
    assert len(rows) == 3
    shas = {r.sha for r in rows}
    assert len(shas) == 3


def test_watermark_drops_late_rows_and_holds_open_window(spark, tmp_path):
    """Append-mode hourly windows close in the first batch AFTER the
    watermark passes their end; once a window's state is evicted, a
    later row for it is dropped (never re-emits), and the window holding
    the stream's last event stays open."""
    from datetime import datetime

    from kiez_spark.streaming import windows as W
    from kiez_spark.streaming.files import write_batch_file

    d = str(tmp_path / "in")

    def write_batch(i, rows):
        write_batch_file(
            spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, event_type string, value double",
            ),
            d,
            i,
        )

    ts = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    write_batch(0, [(1, ts(10, 5), "a", 1.0), (2, ts(11, 30), "a", 1.0)])
    # batch 1 runs under watermark 11:30 -> flushes + evicts the 10:00
    # window (n=1); batch 2 then delivers a row late for that EVICTED
    # window (the guaranteed-drop case) plus the stream's tail
    write_batch(1, [(3, ts(12, 30), "a", 1.0)])
    write_batch(2, [(4, ts(10, 20), "a", 1.0), (5, ts(13, 30), "a", 1.0)])

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        W.hourly_agg_stream(stream)
        .writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    got = sorted(
        (r.hour.hour, r.n) for r in spark.sql("select * from wm_out").collect()
    )
    # 10:00 emitted once with n=1 (the late 10:20 row hit evicted state
    # and was dropped), 11:00 and 12:00 closed later, 13:00 still open
    assert got == [(10, 1), (11, 1), (12, 1)], got
