"""Atomic multi-partition publish (sinks/atomic.py): kill-mid-publish
old-or-new reader proof, untouched-partition byte identity, emptied
partitions, concurrent-commit conflict, orphan GC."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.sinks.atomic import (
    AtomicParquetTable,
    ConcurrentWriteError,
)


def _rows(t):
    df = t.read()
    return sorted((r.k, r.part, r.v, r.ts) for r in df.collect()) if df is not None else None


def _base(spark, path, hooks=None):
    t = AtomicParquetTable(
        spark, path, keys=["k"], partition_by=["part"], hooks=hooks
    )
    return t


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, part string, v string, ts int")


BASE = [
    (1, "A", "a1", 0),
    (2, "A", "a2", 0),
    (3, "B", "b1", 0),
    (4, "C", "c1", 0),
]


@pytest.fixture()
def table(spark, tmp_path):
    t = _base(spark, str(tmp_path / "tbl"))
    t.upsert(_df(spark, BASE), [F.col("ts").desc()])
    return t


def test_first_commit_and_read(spark, table):
    assert table.current_version() == 0
    assert _rows(table) == sorted(BASE)


def test_upsert_merges_only_touched_partitions_and_is_atomic_versioned(
    spark, table
):
    batch = [(2, "A", "a2-new", 1), (5, "B", "b2", 1)]
    v = table.upsert(_df(spark, batch), [F.col("ts").desc()])
    assert v == 1
    expect = sorted(
        [(1, "A", "a1", 0), (2, "A", "a2-new", 1), (3, "B", "b1", 0),
         (5, "B", "b2", 1), (4, "C", "c1", 0)]
    )
    assert _rows(table) == expect
    # untouched partition C: manifest entry carried forward verbatim,
    # file bytes untouched on disk
    m0, m1 = table._manifest(0), table._manifest(1)
    assert m0["partitions"]["part=C"] == m1["partitions"]["part=C"]
    f = os.path.join(table.path, "data", m0["partitions"]["part=C"][0])
    assert os.path.exists(f)


def test_key_moving_partition_empties_old_partition(spark, table):
    # key 3 is partition B's only row; move it to C
    table.upsert(_df(spark, [(3, "C", "b1-moved", 1)]), [F.col("ts").desc()])
    man = table.snapshot()
    assert "part=B" not in man["partitions"]
    assert _rows(table) == sorted(
        [(1, "A", "a1", 0), (2, "A", "a2", 0), (3, "C", "b1-moved", 1),
         (4, "C", "c1", 0)]
    )


@pytest.mark.parametrize("stage", ["staged", "moved", "before_commit"])
def test_kill_mid_publish_readers_see_old_never_mixed(spark, tmp_path, stage):
    """Crash the writer at every pre-commit protocol point: the reader
    must see EXACTLY the previous snapshot — old-or-new, never a mix —
    and a clean retry must land exactly the new snapshot."""
    path = str(tmp_path / "tbl")
    t = _base(spark, path)
    t.upsert(_df(spark, BASE), [F.col("ts").desc()])
    before = _rows(t)

    class Boom(RuntimeError):
        pass

    def die():
        raise Boom()

    crashing = _base(spark, path, hooks={stage: die})
    batch = _df(spark, [(2, "A", "a2-new", 1), (6, "D", "d1", 1)])
    with pytest.raises(Boom):
        crashing.upsert(batch, [F.col("ts").desc()])

    # old snapshot intact — version unchanged, rows exactly the old set
    # (a half-published batch would show a2-new XOR d1 here)
    assert t.current_version() == 0
    assert _rows(t) == before

    # retry on a healthy writer publishes the complete new snapshot
    t.upsert(batch, [F.col("ts").desc()])
    assert t.current_version() == 1
    assert _rows(t) == sorted(
        [(1, "A", "a1", 0), (2, "A", "a2-new", 1), (3, "B", "b1", 0),
         (4, "C", "c1", 0), (6, "D", "d1", 1)]
    )

    # crash orphans are invisible; gc removes them and changes nothing
    # (min_age 0: no writer in flight here)
    live_before_gc = _rows(t)
    stats = t.gc(min_age_seconds=0)
    assert _rows(t) == live_before_gc
    # every remaining data file is manifest-listed
    remaining = {
        os.path.relpath(f, os.path.join(path, "data"))
        for f in glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                           recursive=True)
    }
    live = {
        f for files in t.snapshot()["partitions"].values() for f in files
    }
    assert remaining == live
    assert stats["live_files"] == len(live)


def test_concurrent_commit_conflict_detected(spark, table):
    """With retries disabled, a writer losing the version race raises
    ConcurrentWriteError and the winner's snapshot is what readers
    see (the raw optimistic-concurrency contract under the rebase)."""
    winner = _base(spark, table.path)
    loser = _base(
        spark,
        table.path,
        hooks={
            # loser reaches its commit point after the winner committed
            "before_commit": lambda: winner.upsert(
                _df(spark, [(9, "A", "winner", 1)]), [F.col("ts").desc()]
            )
            if winner.current_version() == 0
            else None
        },
    )
    with pytest.raises(ConcurrentWriteError):
        loser.upsert(
            _df(spark, [(8, "A", "loser", 1)]),
            [F.col("ts").desc()],
            max_commit_retries=0,
        )
    assert table.current_version() == 1
    assert (9, "A", "winner", 1) in _rows(table)
    assert all(r[2] != "loser" for r in _rows(table))
    # retry after re-reading the new snapshot succeeds
    loser2 = _base(spark, table.path)
    loser2.upsert(_df(spark, [(8, "A", "loser", 1)]), [F.col("ts").desc()])
    assert (8, "A", "loser", 1) in _rows(table)
    assert (9, "A", "winner", 1) in _rows(table)


def test_unpartitioned_roundtrip_and_last_write_wins(spark, tmp_path):
    t = AtomicParquetTable(spark, str(tmp_path / "flat"), keys=["k"])
    df = spark.createDataFrame(
        [(1, "old", 0), (1, "new", 1), (2, "x", 0)], "k int, v string, ts int"
    )
    t.upsert(df, [F.col("ts").desc()])
    t.upsert(
        spark.createDataFrame([(2, "x2", 2)], "k int, v string, ts int"),
        [F.col("ts").desc()],
    )
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (1, "new"),
        (2, "x2"),
    ]
    assert t.current_version() == 1


def test_gc_retains_requested_history(spark, table):
    table.upsert(_df(spark, [(1, "A", "a1-v1", 1)]), [F.col("ts").desc()])
    table.upsert(_df(spark, [(1, "A", "a1-v2", 2)]), [F.col("ts").desc()])
    stats = table.gc(keep_versions=2, min_age_seconds=0)
    assert stats["removed_manifests"] == 1  # v0 expired, v1+v2 kept
    assert table._manifest(1) and table._manifest(2)
    # time travel to the retained parent still reads cleanly: its files
    # survived gc because keep_versions=2 retains them
    v1_files = [
        f"{table.path}/data/{f}"
        for fl in table._manifest(1)["partitions"].values()
        for f in fl
    ]
    assert all(os.path.exists(f) for f in v1_files)


def test_read_none_before_first_commit(spark, tmp_path):
    t = AtomicParquetTable(spark, str(tmp_path / "nothing"), keys=["k"])
    assert t.read() is None and t.current_version() is None


def test_time_travel_reads_retained_versions(spark, table):
    table.upsert(_df(spark, [(2, "A", "a2-new", 1)]), [F.col("ts").desc()])
    v0 = sorted((r.k, r.v) for r in table.read(version=0).collect())
    v1 = sorted((r.k, r.v) for r in table.read(version=1).collect())
    assert (2, "a2") in v0 and (2, "a2-new") in v1
    assert [x for x in v0 if x[0] != 2] == [x for x in v1 if x[0] != 2]


def test_delete_keys_atomic_partition_scoped(spark, table):
    m_before = table.snapshot()
    doomed = spark.createDataFrame([(2,), (3,)], "k int")
    v = table.delete_keys(doomed)
    assert v == 1
    assert _rows(table) == sorted([(1, "A", "a1", 0), (4, "C", "c1", 0)])
    m_after = table.snapshot()
    # key 3 was partition B's only row: B dropped from the manifest
    assert "part=B" not in m_after["partitions"]
    # untouched partition C carried forward verbatim
    assert m_before["partitions"]["part=C"] == m_after["partitions"]["part=C"]
    # deleting absent keys is a no-op that keeps the current version
    assert table.delete_keys(spark.createDataFrame([(99,)], "k int")) == 1


def test_compact_merges_small_files_atomically(spark, tmp_path):
    t = _base(spark, str(tmp_path / "frag"))
    # a multi-task merge stages one file per (task, partition) — with
    # AQE partition coalescing off, the keep-latest shuffle keeps 8
    # tasks and each partition lands several files (the fragmentation a
    # long-running big-partition table accumulates)
    batch = _df(
        spark,
        [(i, "A", f"v{i}", i) for i in range(64)]
        + [(100 + i, "B", f"w{i}", i) for i in range(64)],
    )
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.upsert(batch, [F.col("ts").desc()])
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    before = t.snapshot()
    assert len(before["partitions"]["part=A"]) >= 4
    rows_before = _rows(t)
    v = t.compact()
    assert v == before["version"] + 1
    after = t.snapshot()
    assert len(after["partitions"]["part=A"]) == 1
    assert len(after["partitions"]["part=B"]) == 1
    assert _rows(t) == rows_before
    # pre-compaction snapshot still time-travels until gc
    assert sorted((r.k, r.v) for r in t.read(version=before["version"]).collect()) == \
        sorted((r.k, r.v) for r in t.read().collect())
    # already-compacted table: no-op, same version
    assert t.compact() == v


def test_compact_unpartitioned(spark, tmp_path):
    t = AtomicParquetTable(spark, str(tmp_path / "flatc"), keys=["k"])
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        t.upsert(
            spark.createDataFrame(
                [(i, i) for i in range(64)], "k int, v int"
            ),
            [F.col("v").desc()],
        )
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    assert len(t.snapshot()["partitions"][""]) >= 3
    t.compact()
    assert len(t.snapshot()["partitions"][""]) == 1
    assert sorted((r.k, r.v) for r in t.read().collect()) == [
        (i, i) for i in range(64)
    ]


def test_schema_evolution_across_snapshots(spark, table):
    """A widened batch (new column) upserts cleanly; untouched
    partitions' old-schema files read back with nulls (mergeSchema)."""
    widened = spark.createDataFrame(
        [(2, "A", "a2-new", 1, "eu")],
        "k int, part string, v string, ts int, region string",
    )
    table.upsert(widened, [F.col("ts").desc()])
    out = {r.k: (r.v, r.region) for r in table.read().collect()}
    assert out[2] == ("a2-new", "eu")
    assert out[4] == ("c1", None)  # untouched partition C, old schema


def test_merge_into_update_insert_delete_clauses(spark, table):
    """MERGE INTO over the atomic table: every clause combo
    maps to one atomic partition-scoped commit with SQL MERGE
    semantics — matched update replaces the row, unmatched insert
    lands, matched-skip leaves the target row, not-matched-skip drops
    the source row, matched delete removes (key-only source ok)."""
    # update (key 2) + insert (key 6) in one commit
    v = table.merge_into(
        _df(spark, [(2, "A", "a2-m", 9), (6, "D", "d1", 9)]),
    )
    assert v == 1
    assert _rows(table) == sorted(
        [(1, "A", "a1", 0), (2, "A", "a2-m", 9), (3, "B", "b1", 0),
         (4, "C", "c1", 0), (6, "D", "d1", 9)]
    )

    # matched-skip: key 2 untouched; unmatched key 7 still inserts
    table.merge_into(
        _df(spark, [(2, "A", "NO", 9), (7, "B", "b7", 9)]),
        when_matched="skip",
    )
    got = _rows(table)
    assert (2, "A", "a2-m", 9) in got and (7, "B", "b7", 9) in got

    # not-matched-skip: update key 1 only; key 8 dropped
    table.merge_into(
        _df(spark, [(1, "A", "a1-m", 9), (8, "C", "NO", 9)]),
        when_not_matched="skip",
    )
    got = _rows(table)
    assert (1, "A", "a1-m", 9) in got
    assert all(r[0] != 8 for r in got)

    # matched delete with a KEY-ONLY source (3 was B's only row)
    v_before = table.current_version()
    table.merge_into(
        spark.createDataFrame([(3,), (99,)], "k int"),
        when_matched="delete", when_not_matched="skip",
    )
    got = _rows(table)
    assert all(r[0] != 3 for r in got)
    # partition B still holds key 7 (inserted above); key 3 is gone
    assert [r[0] for r in got if r[1] == "B"] == [7]

    # all-miss delete: no-op, version unchanged
    v_now = table.current_version()
    table.merge_into(
        spark.createDataFrame([(99,)], "k int"),
        when_matched="delete", when_not_matched="skip",
    )
    assert table.current_version() == v_now
    assert v_now == v_before + 1


def test_merge_into_source_dedup_with_order_by(spark, table):
    """A source with several rows per key reduces via order_by before
    merging (SQL MERGE's uniqueness requirement, resolved)."""
    table.merge_into(
        _df(spark, [(2, "A", "stale", 1), (2, "A", "fresh", 5)]),
        order_by=[F.col("ts").desc()],
    )
    assert (2, "A", "fresh", 5) in _rows(table)


def test_conflict_disjoint_partitions_fast_forwards(spark, table):
    """Rebase-and-retry, fast-forward shape: the competing commit
    touched a DISJOINT partition and none of this batch's keys, so the
    loser re-points its already-staged files at the new head — both
    batches land (no batch lost), with NO second stage/merge job."""
    winner = _base(spark, table.path)
    stages = []
    loser = _base(
        spark,
        table.path,
        hooks={
            "staged": lambda: stages.append(1),
            "before_commit": lambda: winner.upsert(
                _df(spark, [(9, "D", "winner", 1)]), [F.col("ts").desc()]
            )
            if winner.current_version() == 0
            else None,
        },
    )
    v = loser.upsert(_df(spark, [(8, "A", "loser", 1)]), [F.col("ts").desc()])
    assert v == 2  # base=0, winner=1, loser rebased onto 2
    assert len(stages) == 1, "fast-forward must not re-stage"
    rows = _rows(table)
    assert (9, "D", "winner", 1) in rows and (8, "A", "loser", 1) in rows
    assert len(rows) == len(BASE) + 2


def test_conflict_overlapping_partition_remerges(spark, table):
    """Rebase-and-retry, re-merge shape: the competing commit rewrote
    the SAME partition, so the loser's staged merge is stale — it must
    recompute against the new snapshot. Both batches land."""
    winner = _base(spark, table.path)
    stages = []
    loser = _base(
        spark,
        table.path,
        hooks={
            "staged": lambda: stages.append(1),
            "before_commit": lambda: winner.upsert(
                _df(spark, [(9, "A", "winner", 1)]), [F.col("ts").desc()]
            )
            if winner.current_version() == 0
            else None,
        },
    )
    v = loser.upsert(_df(spark, [(8, "A", "loser", 1)]), [F.col("ts").desc()])
    assert v == 2
    assert len(stages) == 2, "overlap must trigger a full re-merge"
    rows = _rows(table)
    assert (9, "A", "winner", 1) in rows and (8, "A", "loser", 1) in rows
    assert len(rows) == len(BASE) + 2


def test_conflict_same_key_disjoint_partitions_remerges(spark, table):
    """The case fast-forward must NOT skip past: the competing commit
    inserted the SAME key into a different partition. Partition sets
    are disjoint, but committing the stale merge would leave the key
    twice — the key-overlap probe forces a re-merge and last-write-wins
    holds across the rebase (exactly one surviving row, newest ts, and
    the loser's stale copy's partition is gone)."""
    winner = _base(spark, table.path)
    loser = _base(
        spark,
        table.path,
        hooks={
            "before_commit": lambda: winner.upsert(
                _df(spark, [(42, "Z", "winner", 1)]), [F.col("ts").desc()]
            )
            if winner.current_version() == 0
            else None
        },
    )
    loser.upsert(_df(spark, [(42, "A", "loser", 2)]), [F.col("ts").desc()])
    rows = _rows(table)
    k42 = [r for r in rows if r[0] == 42]
    assert k42 == [(42, "A", "loser", 2)], k42
    assert "part=Z" not in table.snapshot()["partitions"]
    assert len(rows) == len(BASE) + 1


def test_hive_escaped_partition_values_replace_not_duplicate(spark, tmp_path):
    """Partition values needing Hive escaping (':' '=' '%') and NULL:
    the manifest's touched-dir keys must byte-match Spark's escaped
    staged dir names, or the second upsert would carry the stale
    partition forward ALONGSIDE the merged one and read back
    duplicates (ADVICE r6, medium)."""
    t = _base(spark, str(tmp_path / "esc"))
    rows0 = [
        (1, "a:b", "v1", 0),
        (2, "x=y", "v2", 0),
        (3, "p%20q", "v3", 0),
        (4, None, "v4", 0),
        (5, "plain", "v5", 0),
    ]
    t.upsert(_df(spark, rows0), [F.col("ts").desc()])
    man0 = t.snapshot()["partitions"]
    assert "part=a%3Ab" in man0 and "part=x%3Dy" in man0
    assert "part=p%2520q" in man0
    assert "part=__HIVE_DEFAULT_PARTITION__" in man0
    # update every escaped partition's key: each must REPLACE its
    # partition (same row count, new values), never duplicate
    t.upsert(
        _df(
            spark,
            [(1, "a:b", "v1b", 1), (2, "x=y", "v2b", 1), (4, None, "v4b", 1)],
        ),
        [F.col("ts").desc()],
    )
    got = sorted((r.k, r.part, r.v) for r in t.read().collect())
    assert got == [
        (1, "a:b", "v1b"),
        (2, "x=y", "v2b"),
        (3, "p%20q", "v3"),
        (4, None, "v4b"),
        (5, "plain", "v5"),
    ], got
    # keyed delete out of an escaped and the NULL partition
    t.delete_keys(spark.createDataFrame([(1,), (4,)], "k int"))
    man = t.snapshot()["partitions"]
    assert "part=a%3Ab" not in man
    assert "part=__HIVE_DEFAULT_PARTITION__" not in man
    assert sorted(r.k for r in t.read().collect()) == [2, 3, 5]


def test_gc_age_threshold_protects_fresh_orphans(spark, tmp_path):
    """gc's retention check (Delta VACUUM idea): a freshly-staged or
    freshly-moved file of a LIVE concurrent writer is unreferenced by
    any manifest, and default gc must leave it alone; only
    min_age_seconds=0 (caller asserts no writer in flight) reaps it."""
    path = str(tmp_path / "tbl")
    t = _base(spark, path)
    t.upsert(_df(spark, BASE), [F.col("ts").desc()])

    class Boom(RuntimeError):
        pass

    def die():
        raise Boom()

    crashing = _base(spark, path, hooks={"before_commit": die})
    with pytest.raises(Boom):
        crashing.upsert(_df(spark, [(6, "D", "d1", 1)]), [F.col("ts").desc()])

    stats = t.gc()  # default age threshold: fresh orphans survive
    assert stats["removed_files"] == 0 and stats["skipped_young"] > 0
    assert _rows(t) == sorted(BASE)
    stats0 = t.gc(min_age_seconds=0)
    assert stats0["removed_files"] > 0 and stats0["skipped_young"] == 0
    assert _rows(t) == sorted(BASE)


def test_streaming_crash_mid_batch_into_atomic_table(spark, tmp_path):
    """Combined crash-recovery contract (VERDICT r6 task #6): kill the
    streaming query MID-micro-batch while it is publishing into the
    atomic table (after staging, before the manifest commit), restart
    from the same checkpoint, and require the value-level end state to
    be identical to an uninterrupted run — offsets + manifest batch_id
    give end-to-end exactly-once through a crash."""
    from stupp_exclusion_etl_spark.sinks.atomic import streaming_upsert_sink

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def add(rows):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(src)

    def run(table, trip_after_stage=False):
        blew = []
        if trip_after_stage:
            def boom():
                if not blew:
                    blew.append(1)
                    raise RuntimeError("injected crash before commit")
            table.hooks = {"before_commit": boom}
        else:
            table.hooks = {}
        sink = streaming_upsert_sink(table, [F.col("ts").desc()])
        q = (
            spark.readStream.schema("k int, part string, v string, ts int")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        exc = None
        try:
            q.awaitTermination(120)
        except Exception as e:  # failed query may raise here instead
            exc = e
        exc = exc or q.exception()
        if q.isActive:
            q.stop()
        return exc

    add(BASE)
    t = _base(spark, str(tmp_path / "tbl"))
    assert run(t) is None
    v_after_b0 = t.current_version()

    # batch 1 arrives; the writer dies after staging, before the commit
    add([(2, "A", "a2-new", 1), (6, "D", "d1", 1)])
    exc = run(t, trip_after_stage=True)
    assert exc is not None, "injected crash must fail the query"
    # nothing published: readers still see the pre-crash snapshot
    assert t.current_version() == v_after_b0
    assert _rows(t) == sorted(BASE)

    # restart from the same checkpoint: the SAME micro-batch replays
    # and commits exactly once
    assert run(t) is None
    assert _rows(t) == sorted(
        [(1, "A", "a1", 0), (2, "A", "a2-new", 1), (3, "B", "b1", 0),
         (4, "C", "c1", 0), (6, "D", "d1", 1)]
    )
    v_done = t.current_version()
    rows_done = _rows(t)

    # one more restart with nothing new: no-op (offsets committed)
    assert run(t) is None
    assert t.current_version() == v_done and _rows(t) == rows_done


def test_batch_id_makes_upsert_exactly_once(spark, tmp_path):
    from stupp_exclusion_etl_spark.sinks.atomic import streaming_upsert_sink

    t = _base(spark, str(tmp_path / "stream"))
    sink = streaming_upsert_sink(t, [F.col("ts").desc()])
    sink(_df(spark, BASE), 0)
    sink(_df(spark, [(2, "A", "a2-new", 1)]), 1)
    v_after = t.current_version()
    rows_after = _rows(t)
    # replayed micro-batch (same id): no-op, same version, same rows
    sink(_df(spark, [(2, "A", "a2-new", 1)]), 1)
    assert t.current_version() == v_after and _rows(t) == rows_after
    # maintenance commits carry the marker forward: replay after
    # compaction is STILL recognized
    t.compact()
    sink(_df(spark, [(2, "A", "a2-REPLAY", 1)]), 1)
    assert (2, "A", "a2-new", 1) in _rows(t)
    assert all(r[2] != "a2-REPLAY" for r in _rows(t))
    # the next real batch applies
    sink(_df(spark, [(7, "B", "b7", 2)]), 2)
    assert (7, "B", "b7", 2) in _rows(t)


@pytest.mark.parametrize(
    "layout",
    [{}, {"cluster_by": ["id"]}, {"bucket_by": 4}, {"index_by": ["v"]}],
    ids=["plain", "cluster_by", "bucket_by", "index_by"],
)
def test_keep_latest_null_keys_and_uri_replay_per_layout(
    spark, tmp_path, layout
):
    """Keep-latest holds on every layout, at a ``file://`` URI path:

    - the FIRST batch dedups (a key twice lands one row) and NULL keys
      form their own group that a later batch replaces;
    - a replayed ``batch_id`` is a no-op even with different rows (the
      marker is resolved through the path's own scheme, which
      ``os.path`` cannot see);
    - a late stale update never clobbers a newer row;
    - a fresh handle on the same URI reads the same rows."""
    path = "file://" + str(tmp_path / "uri_tbl")
    assert not os.path.exists(path)  # the URI is opaque to os.path
    schema = "id long, v string, ver long"
    order = [F.col("ver").desc()]

    def rows(t):
        return {(r.id, r.v) for r in t.read().collect()}

    t = AtomicParquetTable(spark, path, keys=["id"], **layout)
    first = [(1, "a", 1), (2, "b", 1), (None, "c", 1), (2, "b2", 2)]
    v0 = t.upsert(spark.createDataFrame(first, schema), order, batch_id=0)
    assert rows(t) == {(1, "a"), (2, "b2"), (None, "c")}

    replay = spark.createDataFrame([(9, "replay", 9)], schema)
    assert t.upsert(replay, order, batch_id=0) == v0
    assert rows(t) == {(1, "a"), (2, "b2"), (None, "c")}

    inc = spark.createDataFrame([(None, "c2", 3), (1, "a2", 3)], schema)
    t.upsert(inc, order, batch_id=1)
    stale = spark.createDataFrame([(1, "a-stale", 2), (None, "c-stale", 1)], schema)
    t.upsert(stale, order, batch_id=2)
    want = {(1, "a2"), (2, "b2"), (None, "c2")}
    assert rows(t) == want

    fresh = AtomicParquetTable(spark, path, keys=["id"], **layout)
    assert rows(fresh) == want
    assert fresh.upsert(replay, order, batch_id=2) == t.current_version()
    assert rows(fresh) == want


def test_three_writer_interleave_no_batch_lost(spark, tmp_path):
    """N-writer stress (beyond the pairwise race): writer A stages,
    then B and C each commit fully (B's commit fires C's via its own
    hook), so A's eventual commit must rebase across TWO intervening
    versions. All three batches land; disjoint partitions mean the
    fast-forward chain suffices and no data is rewritten twice."""
    path = str(tmp_path / "multi")
    base = _base(spark, path)
    base.upsert(_df(spark, BASE), [F.col("ts").desc()])

    fired = {}

    def c_after_b():
        if fired.get("c"):
            return
        fired["c"] = True
        _base(spark, path).upsert(
            _df(spark, [(30, "C", "c-w", 1)]), [F.col("ts").desc()]
        )

    writer_c_trigger = _base(spark, path, hooks={"moved": c_after_b})

    def b_and_c_after_a():
        if fired.get("b"):
            return
        fired["b"] = True
        writer_c_trigger.upsert(
            _df(spark, [(20, "B", "b-w", 1)]), [F.col("ts").desc()]
        )

    a = _base(spark, path, hooks={"moved": b_and_c_after_a})
    a.upsert(_df(spark, [(10, "A", "a-w", 1)]), [F.col("ts").desc()])

    rows = _rows(_base(spark, path))
    assert (10, "A", "a-w", 1) in rows
    assert (20, "B", "b-w", 1) in rows
    assert (30, "C", "c-w", 1) in rows
    assert len(rows) == len(BASE) + 3


def test_racing_writers_recency_wins_regardless_of_commit_order(
    spark, tmp_path
):
    """Same key written by two racing writers: the RECENCY order
    (order_by ts), not the commit arrival order, decides the surviving
    row — the loser's re-merge runs keep_latest against the winner's
    snapshot. The stale writer commits LAST here and must not
    overwrite the fresher value."""
    path = str(tmp_path / "lww")
    base = _base(spark, path)
    base.upsert(_df(spark, BASE), [F.col("ts").desc()])

    fired = {}

    def fresh_commits_first():
        if fired.get("x"):
            return
        fired["x"] = True
        _base(spark, path).upsert(
            _df(spark, [(1, "A", "fresh", 9)]), [F.col("ts").desc()]
        )

    stale = _base(spark, path, hooks={"moved": fresh_commits_first})
    stale.upsert(_df(spark, [(1, "A", "stale", 5)]), [F.col("ts").desc()])

    rows = _rows(_base(spark, path))
    assert (1, "A", "fresh", 9) in rows, (
        "the ts=9 row must win even though the ts=5 writer committed last"
    )
    assert not any(r[2] == "stale" for r in rows)


@pytest.mark.slow  # round-exit tier (see pytest.ini)
def test_auto_compaction_policy_bounds_live_files(spark, tmp_path):
    """Auto-compaction (VERDICT r8 task #4): a CDC-shaped workload —
    many small file-scoped appends, each carrying prior files forward
    and adding one — keeps a BOUNDED live-file count under the
    count-triggered policy, with time travel intact, the change feed
    blind to compactions, and the skipping index improved (fewer
    files for the same probes)."""
    cap = 6
    t = AtomicParquetTable(
        spark, str(tmp_path / "autoc"), keys=["k"],
        cluster_by=["k"], cluster_files=2,
        auto_compact={"max_files_per_partition": cap,
                      "target_file_mb": 128},
    )
    mk = lambda lo: spark.createDataFrame(
        [(k, float(k), 0) for k in range(lo, lo + 20)],
        "k int, v double, ts int",
    )
    counts, versions = [], []
    for i in range(15):
        versions.append(t.upsert(mk(1000 * i), [F.col("ts").desc()]))
        counts.append(sum(
            len(fl) for fl in t.snapshot()["partitions"].values()
        ))
    # bounded: never grows past cap + the one commit that breaches it
    assert max(counts) <= cap + 2, counts
    assert counts[-1] <= cap + 2
    # without the policy the same workload accretes ~1 file per commit
    u = AtomicParquetTable(
        spark, str(tmp_path / "manual"), keys=["k"],
        cluster_by=["k"], cluster_files=2,
    )
    for i in range(15):
        u.upsert(mk(1000 * i), [F.col("ts").desc()])
    unbounded = sum(
        len(fl) for fl in u.snapshot()["partitions"].values()
    )
    assert unbounded > cap + 2, unbounded
    # values exact despite interleaved auto-compactions
    assert sorted(r.k for r in t.read().collect()) == sorted(
        r.k for r in u.read().collect()
    )
    # auto-compaction published separate versions on top of the
    # batches' own (returned) versions...
    assert t.current_version() > versions[-1] - 1
    compaction_versions = [
        v for v in range(1, t.current_version() + 1)
        if t._manifest(v).get("batch_id") is None
        and v not in versions
    ]
    assert compaction_versions, "no auto-compaction ever ran"
    # ...each invisible to the change feed
    for cv in compaction_versions:
        assert t.changes(cv - 1).filter(
            F.lit(True)
        ).count() >= 0  # resolvable
        assert t.changes(cv - 1, cv).count() == 0, (
            f"compaction v{cv} leaked into the feed"
        )
    # time travel to a pre-compaction version still reads until gc()
    assert t.read(version=versions[2]).count() == 60
    # skipping: a point probe consults fewer files than the
    # uncompacted twin (fresh range stats over fewer files)
    rep_auto = t.skipping_report([("k", "=", 5005)])
    rep_manual = u.skipping_report([("k", "=", 5005)])
    assert rep_auto["files_total"] < rep_manual["files_total"]
    assert rep_auto["files_kept"] <= rep_manual["files_kept"]


def test_maybe_compact_below_cap_is_metadata_only(spark, tmp_path):
    """Under the cap maybe_compact is a pure manifest decision: no new
    version, no FS traffic beyond the snapshot read."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "quiet"), keys=["k"],
        cluster_by=["k"], cluster_files=2,
    )
    t.upsert(
        spark.createDataFrame([(1, 1.0)], "k int, v double"),
        [F.col("v").desc()],
    )
    v = t.current_version()
    assert t.maybe_compact(max_files_per_partition=16) is None
    assert t.current_version() == v
    with pytest.raises(ValueError, match="auto_compact keys"):
        AtomicParquetTable(
            spark, str(tmp_path / "bad"), keys=["k"],
            auto_compact={"max_files": 3},
        )


def test_auto_compact_failure_never_masks_commit(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: auto-compaction runs AFTER the data commit succeeds,
    so a housekeeping failure (FS fault, executor loss) must surface
    as a warning, never an exception — a caller that saw one would
    believe the durably-committed batch failed and re-apply it."""
    import warnings as w

    t = AtomicParquetTable(
        spark, str(tmp_path / "bf"), keys=["k"],
        auto_compact={"max_files_per_partition": 16},
    )
    monkeypatch.setattr(
        AtomicParquetTable, "maybe_compact",
        lambda self, **kw: (_ for _ in ()).throw(
            RuntimeError("simulated FS fault")
        ),
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        v = t.upsert(
            spark.createDataFrame([(1, 1.0)], "k int, v double"),
            [F.col("v").desc()],
        )
    assert v == 0 and t.current_version() == 0
    assert t.read().count() == 1
    assert any("auto-compaction" in str(c.message) for c in caught)


def test_probe_prepared_checkpoints_uncacheable_plans(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: a createDataFrame/join-derived key frame has an
    uncacheable plan fingerprint (LogicalRDD hides the rows), so the
    capped probe count used to re-evaluate the batch pipeline on every
    mutating call. _probe_prepared localCheckpoints such frames once —
    the count and every downstream semi-join then read the same
    materialized blocks — while file-backed frames keep the memoized
    count with NO checkpoint materialization."""
    from pyspark.sql.classic.dataframe import DataFrame as DF

    from stupp_exclusion_etl_spark.sinks import atomic as am

    calls = []
    orig = DF.localCheckpoint
    monkeypatch.setattr(
        DF, "localCheckpoint",
        lambda self, eager=True: (
            calls.append(1), orig(self, eager=eager)
        )[1],
    )
    mem = spark.createDataFrame([(i,) for i in range(7)], "k int")
    out, small = am._probe_prepared(mem)
    assert small
    assert out is not mem and len(calls) == 1
    assert out.count() == 7
    # file-backed frames pass through untouched (memoized count path)
    p = str(tmp_path / "keys.parquet")
    mem.write.parquet(p)
    fb = spark.read.parquet(p)
    out2, small2 = am._probe_prepared(fb)
    assert small2 and out2 is fb and len(calls) == 1


def test_probe_broadcast_hint_is_bounded(spark, tmp_path, monkeypatch):
    """The sf10 local-cluster OOM fix (BENCH_SCALE10_LC_r09): batch-key
    probes broadcast ONLY when provably under the cap — an explicit
    hint bypasses autoBroadcastJoinThreshold, and a table-scale batch
    deserialized as a LongHashedRelation in every executor. Above the
    (monkeypatched) cap the semi-join must plan WITHOUT a broadcast
    hint; below it the hint stays (small probes must not regress to
    shuffles)."""
    from stupp_exclusion_etl_spark.sinks import atomic as am
    from tests.plan_guard import compiled_plan

    t = AtomicParquetTable(
        spark, str(tmp_path / "cap"), keys=["k"],
    )
    t.upsert(
        spark.createDataFrame(
            [(i, float(i)) for i in range(500)], "k int, v double"
        ).withColumn("ts", F.lit(0)),
        [F.col("ts").desc()],
    )
    existing = t.read()

    monkeypatch.setattr(am, "_PROBE_BROADCAST_CAP", 10)
    big = spark.range(100).select(F.col("id").cast("int").alias("k"))
    small = spark.range(5).select(F.col("id").cast("int").alias("k"))
    # auto-broadcast off: ONLY the hint can produce a broadcast join,
    # so hint presence/absence is directly visible in the strategy
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = compiled_plan(
            existing.join(am._probe_hint(big), ["k"], "left_semi")
        )
        assert "BroadcastHashJoin" not in plan_big, plan_big
        plan_small = compiled_plan(
            existing.join(am._probe_hint(small), ["k"], "left_semi")
        )
        assert "BroadcastHashJoin" in plan_small, plan_small
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    # end-to-end: an over-cap delete still lands the right values
    t.delete_keys(big)
    assert t.read().count() == 400
    assert t.read().filter(F.col("k") < 100).count() == 0
