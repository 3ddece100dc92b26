"""Row-level change feed between atomic-table snapshots
(sinks/atomic.py `changes`): one row per key whose CONTENT differs —
insert/update/delete — computed from only the files that entered or
left the manifest between the two versions. Rows merely copied into
rewritten files (write amplification) and no-op upserts must not
appear; a compaction must produce an empty feed. This is the
incremental-reprocessing contract a downstream tokenization/indexing
stage consumes instead of rescanning the table.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, s string, ts int")


@pytest.fixture()
def table(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "t"), keys=["k"],
        cluster_by=["k"], cluster_files=4,
    )
    t.upsert(
        _mk(spark, [(k, float(k), "a", 0) for k in range(100)]),
        [F.col("ts").desc()],
    )
    return t


def test_feed_reports_semantic_batch_effect_only(spark, table):
    v0 = table.current_version()
    batch = (
        [(k, -1.0, "upd", 1) for k in range(5, 10)]     # real updates
        + [(k, float(k), "a", 0) for k in range(20, 25)]  # no-op rewrites
        + [(k, 0.0, "new", 1) for k in range(200, 203)]   # inserts
    )
    table.upsert(_mk(spark, batch), [F.col("ts").desc()])
    rows = sorted(
        (r.k, r._change_type, r.s) for r in table.changes(v0).collect()
    )
    assert rows == (
        [(k, "update", "upd") for k in range(5, 10)]
        + [(k, "insert", "new") for k in range(200, 203)]
    ), "copied neighbors and no-op upserts must not appear in the feed"


def test_feed_delete_carries_old_values(spark, table):
    v0 = table.current_version()
    table.delete_keys(
        spark.createDataFrame([(k,) for k in range(3)], "k int")
    )
    rows = sorted(
        (r.k, r._change_type, r.v) for r in table.changes(v0).collect()
    )
    assert rows == [(k, "delete", float(k)) for k in range(3)]


def test_compaction_feed_is_empty(spark, table):
    # several narrow upserts create small files to compact
    for i in range(3):
        table.upsert(
            _mk(spark, [(i, -float(i), "x", 1)]), [F.col("ts").desc()]
        )
    v = table.current_version()
    v2 = table.compact(target_bytes_per_file=1 << 30)
    if v2 != v:
        assert table.changes(v, v2).count() == 0


def test_cumulative_feed_is_net_effect(spark, table):
    v0 = table.current_version()
    table.upsert(
        _mk(spark, [(5, -1.0, "b", 1), (200, 0.0, "new", 1)]),
        [F.col("ts").desc()],
    )
    table.upsert(
        _mk(spark, [(5, -2.0, "c", 2)]), [F.col("ts").desc()]
    )
    table.delete_keys(spark.createDataFrame([(200,)], "k int"))
    rows = sorted(
        (r.k, r._change_type, r.s) for r in table.changes(v0).collect()
    )
    # 200 was inserted then deleted: net vs v0 = nothing
    assert rows == [(5, "update", "c")]


def test_schema_evolution_in_feed(spark, table):
    v0 = table.current_version()
    widened = spark.createDataFrame(
        [(7, -7.0, "w", 1, "extra")],
        "k int, v double, s string, ts int, note string",
    )
    table.upsert(widened, [F.col("ts").desc()])
    rows = table.changes(v0).collect()
    by_key = {r.k: r for r in rows}
    assert by_key[7]._change_type == "update"
    assert by_key[7].note == "extra"
    # copied rows in the rewritten file read back with note = NULL and
    # equal their old selves: absent from the feed
    assert set(by_key) == {7}


def test_feed_between_identical_versions_is_empty(spark, table):
    v0 = table.current_version()
    assert table.changes(v0, v0).count() == 0


def test_empty_feed_lists_columns_as_a_feed_that_read_files(spark, tmp_path):
    """An interval in which no file changed gives the columns in the
    order a non-empty feed gives them (partition columns last), also
    when the version's record keeps its first commit's order, and
    collecting it runs no Spark job."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "p"), keys=["k"], partition_by=["part"]
    )
    t.upsert(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0)], "k int, part string, v double"
        ),
        [F.col("v").desc()],
    )
    v0 = t.current_version()
    assert t._manifest_light(v0)["schema_ddl"].index("part") < (
        t._manifest_light(v0)["schema_ddl"].index("v ")
    )
    empty = t.changes(v0, v0)
    t.upsert(
        spark.createDataFrame([(3, "C", 3.0)], "k int, part string, v double"),
        [F.col("v").desc()],
    )
    feed = t.changes(v0)
    assert empty.columns == feed.columns == ["k", "v", "part", "_change_type"]
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().numTotalJobs()
    assert empty.collect() == []
    assert sc.dagScheduler().numTotalJobs() == before
    assert [(r.k, r._change_type) for r in feed.collect()] == [(3, "insert")]


def test_restore_rolls_back_as_new_commit(spark, table):
    """restore(v) re-points the manifest at a retained snapshot's file
    entries — zero data I/O, history preserved, and the change feed
    across the restore is the exact reverse diff of the bad commit."""
    v0 = table.current_version()
    base = sorted((r.k, r.v) for r in table.read().collect())
    table.upsert(
        _mk(spark, [(5, -1.0, "bad", 1), (500, 0.0, "oops", 1)]),
        [F.col("ts").desc()],
    )
    v1 = table.current_version()
    v2 = table.restore(v0)
    assert v2 == v1 + 1
    assert sorted((r.k, r.v) for r in table.read().collect()) == base
    # the bad snapshot stays time-travelable until gc
    assert table.read(version=v1).filter(F.col("s") == "bad").count() == 1
    # feed across the restore = reverse of the bad batch
    rows = sorted(
        (r.k, r._change_type) for r in table.changes(v1, v2).collect()
    )
    assert rows == [(5, "update"), (500, "delete")]
    # net feed v0 -> restored head is empty
    assert table.changes(v0, v2).count() == 0


def test_history_is_metadata_only_commit_log(spark, table):
    table.upsert(
        _mk(spark, [(5, -1.0, "b", 1)]), [F.col("ts").desc()]
    )
    table.delete_keys(spark.createDataFrame([(6,)], "k int"))
    h = table.history()
    assert [r["version"] for r in h] == [2, 1, 0]
    assert [r["parent"] for r in h] == [1, 0, None]
    assert all(r["n_files"] > 0 for r in h)
    # v0 "changed" everything (diff vs empty); later commits only
    # their touched partitions (unpartitioned table: the "" root)
    assert h[-1]["changed_partitions"] == [""]
    assert h[0]["changed_partitions"] == [""]


def test_history_survives_gc_of_parent_manifest(spark, table):
    """The commit log on a gc'd table: the oldest retained version's
    parent manifest is gone, so its diff base is unknowable — the
    record reports changed_partitions=None instead of crashing
    (ADVICE r7: _changed_parts raised through history())."""
    table.upsert(_mk(spark, [(5, -1.0, "b", 1)]), [F.col("ts").desc()])
    table.upsert(_mk(spark, [(6, -2.0, "c", 2)]), [F.col("ts").desc()])
    table.gc(keep_versions=2, min_age_seconds=0)
    h = table.history()
    assert [r["version"] for r in h] == [2, 1]
    assert h[0]["changed_partitions"] == [""]  # parent v1 retained
    assert h[1]["changed_partitions"] is None  # parent v0 expired
    assert all(r["n_files"] > 0 for r in h)


def test_restore_carries_stats_without_rereading_footers(spark, table):
    """restore() must be the zero-data-I/O rollback it documents: the
    target manifest already carries stats for every file it lists, so
    no footer read / Spark stats job may run (ADVICE r7: _commit
    re-derived stats over O(table) files)."""
    v0 = table.current_version()
    stats0 = table.snapshot()["stats"]
    table.upsert(_mk(spark, [(5, -1.0, "bad", 1)]), [F.col("ts").desc()])

    def boom(new_by_part):
        raise AssertionError("restore() must not re-derive file stats")

    orig = table._new_file_stats
    table._new_file_stats = boom
    try:
        v2 = table.restore(v0)
    finally:
        table._new_file_stats = orig
    man = table.snapshot()
    assert man["version"] == v2
    # the restored snapshot's stats are the target's, carried forward
    live = {f for fl in man["partitions"].values() for f in fl}
    assert {f: man["stats"][f] for f in live} == {
        f: stats0[f] for f in live
    }
    # and pruning still works on the restored head
    rep = table.skipping_report([("k", "=", 3)])
    assert rep["files_kept"] < rep["files_total"]


def test_gc_time_travel_contract(spark, table):
    """GC vs time travel (VERDICT r7 task #6): a reader pinned at a
    RETAINED version survives a concurrent gc (its files are, by
    construction, referenced by a retained manifest and gc deletes
    only unreferenced files); a reader pinned at an EXPIRED version
    fails loudly — resolving it raises VersionExpiredError naming the
    retained versions, and a scan planned BEFORE the expiry raises on
    the deleted files rather than returning a partial answer."""
    from stupp_exclusion_etl_spark.sinks.atomic import (
        VersionExpiredError,
    )

    v0 = table.current_version()
    table.upsert(_mk(spark, [(5, -1.0, "b", 1)]), [F.col("ts").desc()])
    v1 = table.current_version()
    table.upsert(_mk(spark, [(6, -2.0, "c", 2)]), [F.col("ts").desc()])
    v2 = table.current_version()
    pinned_retained = table.read(version=v1)  # planned pre-gc
    pinned_expired = table.read(version=v0)   # planned pre-gc
    res = table.gc(keep_versions=2, min_age_seconds=0)
    assert res["removed_manifests"] == 1
    # retained pinned read: complete and correct mid-gc
    assert pinned_retained.count() == 100
    assert pinned_retained.filter(
        (F.col("k") == 5) & (F.col("v") == -1.0)
    ).count() == 1
    # resolving the expired version fails with a clear error
    with pytest.raises(VersionExpiredError, match="retained"):
        table.read(version=v0)
    with pytest.raises(VersionExpiredError, match="retained"):
        table.changes(v0)
    with pytest.raises(VersionExpiredError, match="retained"):
        table.restore(v0)
    # the pre-planned expired scan must never return a silent partial
    # result: v0's unique files are gone, so executing it raises
    # (unless every v0 file is still referenced by a retained version,
    # in which case it reads completely — both are within contract,
    # a partial row set is not)
    if res["removed_files"] > 0:
        with pytest.raises(Exception):
            pinned_expired.count()
    else:
        assert pinned_expired.count() == 100
    # changes between retained versions still work after gc
    feed = sorted(
        (r.k, r._change_type) for r in table.changes(v1, v2).collect()
    )
    assert feed == [(6, "update")]


def test_corrupt_manifest_is_not_reported_as_expired(spark, table):
    """ADVICE r8: a manifest that EXISTS but fails to parse (corruption,
    interrupted write, I/O fault) must surface as the real error — not
    VersionExpiredError, which retry/cleanup logic keyed on that type
    could treat as routine retention and discard a recoverable
    snapshot. Only a genuinely ABSENT manifest means expired."""
    import os

    from stupp_exclusion_etl_spark.sinks.atomic import (
        MANIFEST_DIR,
        VersionExpiredError,
    )

    v = table.current_version()
    mpath = os.path.join(table.path, MANIFEST_DIR, f"v{v:012d}.json")
    good = open(mpath).read()
    try:
        with open(mpath, "w") as fh:
            fh.write(good[: len(good) // 2])  # truncated mid-write
        with pytest.raises(Exception) as ei:
            table._manifest(v)
        assert not isinstance(ei.value, VersionExpiredError), (
            "corruption misdiagnosed as routine gc retention"
        )
    finally:
        with open(mpath, "w") as fh:
            fh.write(good)
    # and the absent case still maps to VersionExpiredError
    with pytest.raises(VersionExpiredError, match="retained"):
        table._manifest(v + 999)


@pytest.mark.slow  # round-exit tier (see pytest.ini)
def test_auto_gc_retention_policy(spark, tmp_path):
    """VERDICT r9 task #4: with auto_gc (+ auto_compact, whose job is
    to ACCRETE dead versions), an unattended commit stream keeps a
    BOUNDED on-disk footprint: manifests trimmed to keep_versions,
    orphaned data files reaped; time travel within retention stays
    byte-correct; reads/changes over an expired range raise the typed
    VersionExpiredError."""
    import os

    from stupp_exclusion_etl_spark.sinks.atomic import (
        VersionExpiredError,
    )

    root = tmp_path / "ag"
    t = AtomicParquetTable(
        spark, str(root), keys=["k"], cluster_by=["k"],
        cluster_files=2,
        auto_compact={"max_files_per_partition": 4,
                      "target_file_mb": 64},
        auto_gc={"keep_versions": 4, "min_age_seconds": 0},
    )
    for i in range(12):
        t.upsert(
            _mk(spark, [(k, float(i), "a", i) for k in range(20)]),
            [F.col("ts").desc()],
        )
    manifests = sorted(
        n for n in os.listdir(root / "_manifests")
        if n.startswith("v") and n.endswith(".json")
    )
    assert len(manifests) <= 4, manifests
    # on-disk data files = exactly the union the retained manifests
    # reference (orphans and expired-only files reaped)
    retained = set()
    head = t.current_version()
    versions = sorted(
        int(n[1:-5]) for n in manifests
    )
    for v in versions:
        for fl in t._manifest(v)["partitions"].values():
            retained.update(f.rsplit("/", 1)[-1] for f in fl)
    on_disk = {
        f
        for _d, _s, fs in os.walk(root / "data")
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == retained
    # time travel within retention: byte-correct read of an old version
    old_v = versions[0]
    old = t.read(version=old_v)
    assert old.count() == 20
    # the final state is the last upsert's values
    assert {r.v for r in t.read().collect()} == {11.0}
    # expired versions fail LOUDLY with the typed error
    with pytest.raises(VersionExpiredError, match="retained"):
        t.read(version=0)
    with pytest.raises(VersionExpiredError, match="retained"):
        t.changes(0, head)
    # age-window guarantee: keep_hours retains everything younger,
    # overriding the version-count bound — nothing is expired
    t2 = AtomicParquetTable(
        spark, str(tmp_path / "ag2"), keys=["k"],
        auto_gc={"keep_versions": 1, "keep_hours": 1.0,
                 "min_age_seconds": 0},
    )
    for i in range(4):
        t2.upsert(
            _mk(spark, [(k, float(i), "a", i) for k in range(5)]),
            [F.col("ts").desc()],
        )
    assert len([
        n for n in os.listdir(tmp_path / "ag2" / "_manifests")
        if n.startswith("v") and n.endswith(".json")
    ]) == 4
    assert t2.read(version=0).count() == 5
    # and maybe_gc itself reports the no-op
    assert t2.maybe_gc(keep_versions=1, keep_hours=1.0) is None


def test_timestamp_time_travel(spark, table):
    """TIMESTAMP AS OF: in-commit timestamps are strictly increasing
    (clamped to parent+1ms), version_at resolves the newest version at
    or before an instant, read(as_of_timestamp_ms=) equals the
    version-addressed snapshot, and the retention contract matches
    version time travel (pre-oldest instants raise the typed error)."""
    from stupp_exclusion_etl_spark.sinks.atomic import VersionExpiredError

    v0 = table.current_version()
    table.upsert(_mk(spark, [(5, -5.0, "u1", 1)]), [F.col("ts").desc()])
    v1 = table.current_version()
    table.upsert(_mk(spark, [(6, -6.0, "u2", 2)]), [F.col("ts").desc()])
    v2 = table.current_version()

    ts = {h["version"]: h["committed_at_ms"] for h in table.history()}
    assert ts[v0] < ts[v1] < ts[v2], "commit timestamps must increase"

    # exact instants and midpoints resolve to the version live then
    assert table.version_at(ts[v0]) == v0
    assert table.version_at(ts[v1] - 1) == v0
    assert table.version_at(ts[v1]) == v1
    assert table.version_at((ts[v1] + ts[v2]) // 2) == v1
    assert table.version_at(ts[v2] + 10_000) == v2  # future → head

    by_version = sorted(tuple(r) for r in table.read(version=v1).collect())
    by_ts = sorted(
        tuple(r)
        for r in table.read(as_of_timestamp_ms=ts[v1]).collect()
    )
    assert by_ts == by_version

    with pytest.raises(ValueError, match="not both"):
        table.read(version=v1, as_of_timestamp_ms=ts[v1])
    with pytest.raises(VersionExpiredError):
        table.version_at(ts[v0] - 1)  # predates table creation

    # retention: gc expires v0/v1 → their instants now raise, the
    # retained window still resolves
    table.gc(keep_versions=1, min_age_seconds=0)
    with pytest.raises(VersionExpiredError):
        table.version_at(ts[v1])
    assert table.version_at(ts[v2]) == v2


def test_commit_timestamps_strictly_increase_under_burst(spark, tmp_path):
    """A commit burst inside one wall-clock millisecond still yields
    strictly increasing in-commit timestamps (the parent+1ms clamp) —
    what keeps version_at unambiguous."""
    t = AtomicParquetTable(spark, str(tmp_path / "t"), keys=["k"])
    for i in range(4):
        t.upsert(_mk(spark, [(i, float(i), "a", i)]), [F.col("ts").desc()])
    stamps = [h["committed_at_ms"] for h in reversed(t.history())]
    assert all(b > a for a, b in zip(stamps, stamps[1:])), stamps
    # every version resolvable by its own stamp
    for v, s in enumerate(stamps):
        assert t.version_at(s) == v


def test_changes_by_timestamp_bounds(spark, table):
    """CDF with instant bounds: since_timestamp_ms/until_timestamp_ms
    resolve through version_at and produce the same feed as the
    version-addressed call; mixed/missing bound forms are rejected."""
    from stupp_exclusion_etl_spark.sinks.atomic import VersionExpiredError

    table.upsert(_mk(spark, [(5, -5.0, "u1", 1)]), [F.col("ts").desc()])
    table.upsert(_mk(spark, [(6, -6.0, "u2", 2)]), [F.col("ts").desc()])
    ts = {h["version"]: h["committed_at_ms"] for h in table.history()}

    by_version = sorted(tuple(r) for r in table.changes(0, 2).collect())
    by_ts = sorted(
        tuple(r)
        for r in table.changes(
            since_timestamp_ms=ts[0], until_timestamp_ms=ts[2]
        ).collect()
    )
    assert by_ts == by_version and len(by_ts) == 2
    # a mid-interval since-instant resolves to the snapshot live then
    assert sorted(
        r.k for r in table.changes(since_timestamp_ms=ts[1]).collect()
    ) == [6]

    with pytest.raises(ValueError, match="exactly one"):
        table.changes(0, since_timestamp_ms=ts[0])
    with pytest.raises(ValueError, match="exactly one"):
        table.changes()
    with pytest.raises(ValueError, match="at most one"):
        table.changes(0, until=2, until_timestamp_ms=ts[2])
    with pytest.raises(VersionExpiredError):
        table.changes(since_timestamp_ms=ts[0] - 1)


def test_restore_by_timestamp(spark, table):
    """RESTORE TIMESTAMP AS OF: the instant resolves through
    version_at and the rollback equals the version-addressed restore;
    exactly one target form is accepted."""
    v0 = table.current_version()
    table.upsert(_mk(spark, [(5, -5.0, "bad", 1)]), [F.col("ts").desc()])
    ts0 = table._commit_time_ms(v0)

    v2 = table.restore(as_of_timestamp_ms=ts0)
    assert v2 == table.current_version() and v2 > v0
    got = sorted(tuple(r) for r in table.read().collect())
    want = sorted(tuple(r) for r in table.read(version=v0).collect())
    assert got == want

    with pytest.raises(ValueError, match="exactly one"):
        table.restore()
    with pytest.raises(ValueError, match="exactly one"):
        table.restore(v0, as_of_timestamp_ms=ts0)


def test_maybe_gc_age_probe_survives_mtime_rewrite(spark, tmp_path):
    """maybe_gc's keep_hours age probe reads the light record's
    in-commit timestamp, not FS mtime (r11 What's-wrong #3): a
    directory copy/sync that rewrites every manifest mtime to NOW must
    not flip the trigger decision in either direction. Pre-feature
    manifests (no committed_at_ms) still fall back to mtime."""
    import json
    import os
    import time

    from stupp_exclusion_etl_spark.sinks.atomic import VersionExpiredError

    root = tmp_path / "mg"
    t = AtomicParquetTable(spark, str(root), keys=["k"])
    for i in range(4):
        t.upsert(_mk(spark, [(k, float(i), "a", i) for k in range(5)]),
                 [F.col("ts").desc()])

    # simulate a sync: every manifest's mtime becomes "now"
    mdir = root / "_manifests"
    now = time.time()
    for n in os.listdir(mdir):
        if n.startswith("v") and n.endswith(".json"):
            os.utime(mdir / n, (now, now))

    # all commits are seconds old by their in-commit timestamps, so
    # the one-hour window holds everything: no-op — and (the bug) a
    # probe reading the rewritten mtimes would agree here...
    assert t.maybe_gc(keep_versions=1, keep_hours=1.0,
                      min_age_seconds=0) is None

    # ...but diverge here: make the commits OLD by their in-commit
    # stamps while mtimes say "now" — the age probe must see old
    # commits and run gc despite the fresh mtimes
    for v in range(4):
        p = mdir / f"v{v:012d}.json"
        man = json.loads(p.read_text())
        man["committed_at_ms"] = int((now - 7200) * 1000) + v
        p.write_text(json.dumps(man))
        os.utime(p, (now, now))
    t2 = AtomicParquetTable(spark, str(root), keys=["k"])  # fresh cache
    stats = t2.maybe_gc(keep_versions=1, keep_hours=1.0,
                        min_age_seconds=0)
    assert stats is not None, (
        "fresh mtimes masked two-hour-old commits from the age probe"
    )
    assert t2.read().count() == 5
    with pytest.raises(VersionExpiredError):
        t2.read(version=0)
