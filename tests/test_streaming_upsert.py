"""Streaming ingest into the atomic keyed table (A14 × A15 × B14): the
reference's scrape→batch→batch_write_item loop (reference
__main__.py:50-66) as a continuous pipeline. Structured Streaming's
checkpoint resumes from committed offsets, and every replayed slice
publishes one atomic version whose end state equals batch
keep-latest."""

from __future__ import annotations


def test_stream_restart_from_checkpoint_no_duplication(spark, tmp_path):
    """Structured Streaming recovery contract: a second availableNow run
    over the SAME checkpoint must resume from committed offsets —
    files ingested before the restart are not reprocessed (no
    duplicates in a plain append sink), files added after the stop are
    picked up exactly once."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def add_file(lo, hi):
        spark.range(lo, hi).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("id long").parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    add_file(0, 30)
    add_file(30, 50)
    run_once()
    assert spark.read.parquet(out).count() == 50

    add_file(50, 80)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 80, "restart reprocessed or dropped files"
    assert got.select("id").distinct().count() == 80


def test_stream_atomic_upsert_commits_every_micro_batch(spark):
    """The replay-source drain must process EVERY slice, publishing one
    atomic version per micro-batch (regression guard for the
    availableNow one-prefetched-batch prefix bug, r6), and the end
    state must equal batch keep-latest regardless of slicing."""
    from pyspark.sql import functions as F

    from stupp_exclusion_etl_spark.catalog import table as cat_table
    from stupp_exclusion_etl_spark.operators.dedup import keep_latest
    from stupp_exclusion_etl_spark.streaming.windows import (
        run_atomic_upsert_stream,
    )
    from tests.conftest import SF_SMALL

    t = run_atomic_upsert_stream(spark, SF_SMALL, rows_per_batch=3000)
    n_events = cat_table(spark, SF_SMALL, "events").count()
    assert t.current_version() + 1 >= (n_events + 2999) // 3000
    want = sorted(
        (r.user_id, r.event_id)
        for r in keep_latest(
            cat_table(spark, SF_SMALL, "events"),
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        ).collect()
    )
    got = sorted((r.user_id, r.event_id) for r in t.read().collect())
    assert got == want
