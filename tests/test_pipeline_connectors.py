"""The connector surface composed end-to-end: custom streaming source →
Structured Streaming aggregation → atomic keyed upsert via
foreachBatch. Proves the pieces interoperate, not just pass their own
tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

EVENTS = f"{SF_SMALL}/events.parquet"


def test_replay_stream_through_atomic_sink(spark, tmp_path):
    from stupp_exclusion_etl_spark.sinks.atomic import (
        AtomicParquetTable,
        streaming_upsert_sink,
    )
    from stupp_exclusion_etl_spark.sources.replay_stream import (
        register_replay_stream,
    )

    register_replay_stream(spark)
    t = AtomicParquetTable(spark, str(tmp_path / "agg_table"), keys=["event_type"])

    stream = (
        spark.readStream.format("events_replay")
        .option("path", EVENTS)
        .option("rows_per_batch", "400")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_v")
    )

    # complete-mode batches carry the FULL aggregate each time, and a
    # key's count only grows; last-write-wins on n converges to the
    # final answer
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(streaming_upsert_sink(t, [F.col("n").desc()]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r.event_type: (r.n, r.sum_v) for r in t.read().collect()}
    want = {
        r.event_type: (r.n, r.sum_v)
        for r in spark.read.parquet(EVENTS)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_v"),
        )
        .collect()
    }
    assert got == want
    assert len(got) >= 2
    # one atomic version per non-empty micro-batch
    assert t.current_version() >= 1
