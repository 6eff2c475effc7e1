"""Structured-Streaming exact dedup: file source,
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
