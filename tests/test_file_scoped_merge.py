"""File-scoped MERGE on key-clustered atomic tables (sinks/atomic.py):
the manifest stats index bounds which live files can hold a batch key,
and upsert/delete rewrite ONLY those files — every other file entry
carries forward verbatim. This is the property that makes small keyed
writes into a huge (even unpartitioned) table metadata-scale: rewrite
cost is O(files overlapping the batch's key range), not O(partition)
or O(table). Reference parity: the scraper's per-batch DynamoDB
batch_write_item touches only the items it carries
(/root/reference/__main__.py:8-24); file scoping is the parquet-table
equivalent of that write amplification contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, s string, ts int")


def _files(t):
    return sorted(
        f for fl in t.snapshot()["partitions"].values() for f in fl
    )


@pytest.fixture()
def table(spark, tmp_path):
    """1000 keys range-clustered on k into 8 files of ~125-key spans."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "t"), keys=["k"],
        cluster_by=["k"], cluster_files=8,
    )
    t.upsert(
        _mk(spark, [(k, float(k), f"s{k}", 0) for k in range(1000)]),
        [F.col("ts").desc()],
    )
    return t


def test_narrow_upsert_replaces_only_overlapping_files(spark, table):
    before = _files(table)
    assert len(before) == 8
    table.upsert(
        _mk(spark, [(k, -1.0, "upd", 1) for k in range(10, 20)]),
        [F.col("ts").desc()],
    )
    after = _files(table)
    replaced = set(before) - set(after)
    assert len(replaced) == 1, (
        "a 10-key batch inside one file's range must retire exactly "
        f"that file, not {len(replaced)}"
    )
    r = table.read()
    assert r.count() == 1000
    assert r.filter(F.col("s") == "upd").count() == 10
    assert r.filter(F.col("k") == 15).first().v == -1.0
    # stats stay complete for every live file
    man = table.snapshot()
    assert set(man["stats"]) == set(after)


def test_merge_into_replaces_only_overlapping_files(spark, table):
    """merge_into takes the same file scope as upsert: an update of
    ten keys inside one file's range retires that file alone."""
    before = _files(table)
    table.merge_into(
        _mk(spark, [(k, -1.0, "upd", 1) for k in range(10, 20)]),
        when_matched="update", when_not_matched="skip",
    )
    replaced = set(before) - set(_files(table))
    assert len(replaced) == 1, replaced
    r = table.read()
    assert r.count() == 1000
    assert sorted(x.k for x in r.filter(F.col("s") == "upd").collect()) == (
        list(range(10, 20))
    )


def test_out_of_range_insert_carries_every_file(spark, table):
    before = _files(table)
    v = table.upsert(
        _mk(spark, [(5000, 5.0, "new", 1)]), [F.col("ts").desc()]
    )
    assert v == 1
    after = _files(table)
    assert set(before) <= set(after), (
        "keys outside every file range must not retire any file"
    )
    assert table.read().count() == 1001


def test_file_scoped_delete(spark, table):
    before = _files(table)
    v = table.delete_keys(
        spark.createDataFrame([(k,) for k in range(10, 20)], "k int")
    )
    assert v == 1
    after = _files(table)
    assert len(set(before) - set(after)) == 1
    assert table.read().count() == 990
    assert table.read(where=[("k", "=", 15)]).count() == 0


def test_delete_outside_all_ranges_is_noop(spark, table):
    v0 = table.current_version()
    v = table.delete_keys(spark.createDataFrame([(9999,)], "k int"))
    assert v == v0, "no candidate file ⇒ no new version"
    assert table.read().count() == 1000


def test_matches_partition_scoped_semantics(spark, tmp_path):
    """Clustered (file-scoped) and unclustered (partition-scoped)
    tables must agree on final values for the same batch sequence."""
    batches = [
        [(k, float(k), "b0", 0) for k in range(200)],
        [(k, -float(k), "b1", 1) for k in range(50, 100)],
        [(k, 7.0, "b2", 2) for k in range(150, 260)],
    ]
    doomed = [(k,) for k in range(40, 60)]

    def run(clustered: bool):
        t = AtomicParquetTable(
            spark,
            str(tmp_path / ("c" if clustered else "p")),
            keys=["k"],
            cluster_by=["k"] if clustered else None,
            cluster_files=6 if clustered else None,
        )
        for b in batches:
            t.upsert(_mk(spark, b), [F.col("ts").desc()])
        t.delete_keys(spark.createDataFrame(doomed, "k int"))
        return sorted(
            (r.k, r.v, r.s, r.ts) for r in t.read().collect()
        )

    assert run(True) == run(False)


def test_null_cluster_key_falls_back_and_stays_correct(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "n"), keys=["k"],
        cluster_by=["k"], cluster_files=4,
    )
    t.upsert(
        _mk(spark, [(k, float(k), "a", 0) for k in range(100)]),
        [F.col("ts").desc()],
    )
    # a NULL key can't be range-probed: the partition-scoped merge runs
    b = spark.createDataFrame(
        [(None, 0.0, "null-key", 1), (5, 0.5, "upd", 1)],
        "k int, v double, s string, ts int",
    )
    t.upsert(b, [F.col("ts").desc()])
    r = table_rows = t.read()
    assert r.count() == 101
    assert r.filter(F.col("k").isNull()).count() == 1
    assert r.filter(F.col("k") == 5).first().s == "upd"


def test_key_moves_partition_under_file_scope(spark, tmp_path):
    """Partitioned AND clustered: an upsert that moves a key to a new
    partition must purge it from the old partition's file."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "m"), keys=["k"], partition_by=["part"],
        cluster_by=["k"], cluster_files=4,
    )
    rows = [(k, "A" if k < 50 else "B", float(k), 0) for k in range(100)]
    t.upsert(
        spark.createDataFrame(rows, "k int, part string, v double, ts int"),
        [F.col("ts").desc()],
    )
    t.upsert(
        spark.createDataFrame(
            [(10, "B", -10.0, 1)], "k int, part string, v double, ts int"
        ),
        [F.col("ts").desc()],
    )
    got = [(r.part, r.v) for r in t.read().filter(F.col("k") == 10).collect()]
    assert got == [("B", -10.0)], (
        "moved key must exist once, in its new partition"
    )
    assert t.read().count() == 100


def test_concurrent_file_scoped_writers_both_land(spark, tmp_path):
    """Two writers with disjoint key ranges racing to the same version:
    the loser rebases (fast-forward or re-merge) and NO batch is lost."""
    path = str(tmp_path / "cc")

    def mk():
        return AtomicParquetTable(
            spark, path, keys=["k"], cluster_by=["k"], cluster_files=4
        )

    base = mk()
    base.upsert(
        _mk(spark, [(k, float(k), "a", 0) for k in range(400)]),
        [F.col("ts").desc()],
    )

    w1, w2 = mk(), mk()
    staged: dict = {}

    # interleave: w1 stages, then w2 commits fully, then w1 commits —
    # w1 loses the version race and must rebase
    def after_w1_moved():
        if staged.get("raced"):
            return
        staged["raced"] = True
        w2.upsert(
            _mk(spark, [(k, -2.0, "w2", 1) for k in range(300, 310)]),
            [F.col("ts").desc()],
        )

    w1.hooks = {"moved": after_w1_moved}
    w1.upsert(
        _mk(spark, [(k, -1.0, "w1", 1) for k in range(10, 20)]),
        [F.col("ts").desc()],
    )

    r = mk().read()
    assert r.filter(F.col("s") == "w1").count() == 10
    assert r.filter(F.col("s") == "w2").count() == 10
    assert r.count() == 400


def test_file_scoped_merge_keeps_widened_schema(spark, table):
    """A file-scoped merge whose candidate files all predate a schema
    widening must not narrow the manifest schema (ADVICE r7): untouched
    live files still carry the wider columns, so empty-prune reads and
    the CDC feed would silently lose them."""
    # widen: a batch in [10,20) adds `note` — only file(s) in that
    # range are rewritten with the new column
    table.upsert(
        spark.createDataFrame(
            [(k, -1.0, "w", 1, f"n{k}") for k in range(10, 20)],
            "k int, v double, s string, ts int, note string",
        ),
        [F.col("ts").desc()],
    )
    assert "note" in table.snapshot()["schema_ddl"]
    # now merge far away: candidates are pre-widening files w/o `note`
    table.upsert(
        _mk(spark, [(k, -2.0, "far", 2) for k in range(900, 910)]),
        [F.col("ts").desc()],
    )
    man = table.snapshot()
    assert "note" in man["schema_ddl"], (
        "file-scoped commit narrowed the table schema to its rewrite "
        "set's columns"
    )
    # the widened values survive and full reads still see the column
    r = table.read()
    assert "note" in r.columns
    assert r.filter(F.col("note") == "n15").count() == 1
    # an empty-prune read (no file matches) keeps the union schema
    empty = table.read(where=[("k", "=", 10_000_000)])
    assert "note" in empty.columns


@pytest.mark.slow  # eight commits over two tables: soak-shaped
def test_bloom_tightens_candidates_after_range_degradation(spark, tmp_path):
    """Key-column blooms sharpen the file-scoped rewrite set where
    range stats have degraded: commit interleaved batches so EVERY
    file's [min,max] spans ~the whole key domain (ranges alone can't
    prune), then point-upsert one key — with index_by on the key the
    candidate set must shrink to just the files that may actually hold
    it, and the merge result must stay exact."""

    def build(index_by):
        t = AtomicParquetTable(
            spark, str(tmp_path / f"t_{bool(index_by)}"), keys=["k"],
            cluster_by=["k"], cluster_files=1, index_by=index_by,
        )
        # four commits with interleaved key residues: file i holds
        # keys k % 4 == i over the full 0..400 domain, so every file's
        # range is ~[i, 396+i] — ranges overlap completely
        for i in range(4):
            t.upsert(
                _mk(spark, [(k, float(k), "a", 0)
                            for k in range(400) if k % 4 == i]),
                [F.col("ts").desc()],
            )
        return t

    t_idx = build(["k"])
    before = _files(t_idx)
    assert len(before) == 4
    man = t_idx.snapshot()
    # range stats alone keep every file for key 101...
    spans = [
        (man["stats"][f]["cols"]["k"]["min"],
         man["stats"][f]["cols"]["k"]["max"]) for f in before
    ]
    assert all(lo <= 101 <= hi for lo, hi in spans), (
        "fixture must make ranges useless"
    )
    # ...but the bloom-tightened candidate probe keeps only the file
    # that actually holds residue 1
    cand = t_idx._candidate_files(man, [101])
    n_cand = sum(len(fs) for fs in cand.values())
    assert n_cand == 1, f"bloom should single out 1 file, got {n_cand}"
    t_idx.upsert(_mk(spark, [(101, -1.0, "upd", 1)]), [F.col("ts").desc()])
    after = _files(t_idx)
    assert len(set(before) - set(after)) == 1, (
        "point upsert must retire exactly the one file holding the key"
    )
    r = t_idx.read()
    assert r.count() == 400
    assert r.filter(F.col("k") == 101).first().v == -1.0
    # control: without the index, every interleaved batch's key range
    # overlapped every prior file, so each upsert re-merged and
    # rewrote EVERYTHING — the table collapses to one file per commit
    # (full write amplification). The bloom is what kept the indexed
    # table append-only (4 residue-pure files) under the same load.
    t_plain = build(None)
    assert len(_files(t_plain)) == 1
    # and the control's single file still matches values exactly
    assert sorted(
        r.k for r in t_plain.read().filter(F.col("k") < 8).collect()
    ) == list(range(8))


def test_union_ddl_widens_types_never_narrows():
    """ADVICE r8: a file-scoped merge whose candidates+batch all
    predate a type widening (int→bigint) must not narrow the manifest
    type back while untouched bigint files remain live — the widening
    lattice keeps the wider of parent vs merged per column."""
    from stupp_exclusion_etl_spark.sinks.atomic import _union_ddl

    # merged narrower than parent: parent's wider type wins
    assert _union_ddl("k int, v bigint", "k int, v int") == \
        "k int, v bigint"
    assert _union_ddl("k int, v double", "k int, v float") == \
        "k int, v double"
    # merged wider: widening proceeds
    assert _union_ddl("k int, v int", "k int, v bigint") == \
        "k int, v bigint"
    # cross-family evolution: the new (writer-validated) type wins
    assert _union_ddl("k int, v int", "k int, v string") == \
        "k int, v string"
    # parent column order kept, new columns append
    assert _union_ddl(
        "k int, v double", "note string, k int, v float"
    ) == "k int, v double, note string"


def test_union_ddl_integral_fractional_and_decimal(spark):
    """ADVICE r9: integral×fractional merges must not adopt float's
    24-bit mantissa (bigint values above 2^24 would silently round),
    and decimal×decimal must widen to cover both sides' integer digits
    and scale instead of letting the last writer narrow them."""
    from stupp_exclusion_etl_spark.sinks.atomic import (
        _union_ddl,
        _wider_ddl_type,
    )

    # integral vs fractional → double, in both directions
    assert _wider_ddl_type("bigint", "float") == "double"
    assert _wider_ddl_type("float", "bigint") == "double"
    assert _wider_ddl_type("int", "float") == "double"
    assert _wider_ddl_type("double", "bigint") == "double"
    # pure-family chains unchanged
    assert _wider_ddl_type("int", "bigint") == "bigint"
    assert _wider_ddl_type("float", "double") == "double"
    # decimal pair: max integer digits + max scale, capped at 38
    assert _wider_ddl_type("decimal(10,2)", "decimal(8,4)") == \
        "decimal(12,4)"
    assert _wider_ddl_type("decimal(8,4)", "decimal(10,2)") == \
        "decimal(12,4)"
    assert _wider_ddl_type("decimal(38,0)", "decimal(10,8)") == \
        "decimal(38,8)"
    # identical decimals stay put
    assert _wider_ddl_type("decimal(10,2)", "decimal(10,2)") == \
        "decimal(10,2)"
    # through _union_ddl
    assert _union_ddl("k int, v bigint", "k int, v float") == \
        "k int, v double"
    assert _union_ddl(
        "k int, v decimal(10,2)", "k int, v decimal(8,4)"
    ) == "k int, v decimal(12,4)"


def test_file_scoped_merge_keeps_widened_type(spark, tmp_path):
    """Integration twin of the _union_ddl unit test: widen v int→bigint
    in one key range, then merge a far-away int-only batch whose
    candidate files all predate the widening — the manifest must stay
    bigint and reads must see the wide value intact."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "tw"), keys=["k"],
        cluster_by=["k"], cluster_files=8,
    )
    mk_i = lambda rows: spark.createDataFrame(rows, "k int, v int, ts int")
    t.upsert(
        mk_i([(k, k, 0) for k in range(1000)]), [F.col("ts").desc()]
    )
    big = 5_000_000_000  # does not fit int
    t.upsert(
        spark.createDataFrame(
            [(15, big, 1)], "k int, v bigint, ts int"
        ),
        [F.col("ts").desc()],
    )
    assert "v bigint" in t.snapshot()["schema_ddl"]
    # far-away int batch: candidates are pre-widening int files
    t.upsert(
        mk_i([(k, -2, 2) for k in range(900, 910)]),
        [F.col("ts").desc()],
    )
    assert "v bigint" in t.snapshot()["schema_ddl"], (
        "file-scoped commit narrowed bigint back to int"
    )
    r = t.read()
    assert dict(r.dtypes)["v"] == "bigint"
    assert r.filter(F.col("k") == 15).collect()[0].v == big


def test_merge_shuffle_sizing_from_manifest(spark, tmp_path, monkeypatch):
    """VERDICT r10 #2: the re-merge sort's partition count comes from
    the manifest (on-disk bytes of the files being rewritten /
    MERGE_TASK_TARGET_BYTES), not from the session's global shuffle
    setting — the fix for the sf10 @8 GiB tiny-spill storm. Pins the
    math, the wiring (every merge path routes its big side through
    _merge_sized with exactly the files it re-reads), and that results
    are unchanged."""
    import math
    import os

    from stupp_exclusion_etl_spark.sinks import atomic

    t = AtomicParquetTable(spark, str(tmp_path / "ms"), keys=["k"])
    t.upsert(
        spark.createDataFrame(
            [(k, "x" * 50, 0) for k in range(5000)],
            "k int, v string, ts int",
        ),
        [F.col("ts").desc()],
    )
    man = t._manifest(t.current_version())
    rel = [f for fl in man["partitions"].values() for f in fl]
    nbytes = sum(
        os.path.getsize(os.path.join(t.path, "data", f)) for f in rel
    )
    par = spark.sparkContext.defaultParallelism
    # below one task's worth of bytes the session planning stands
    # (pinning tiny sorts defeats AQE coalescing — the sf0.1 bench
    # measured 2×), so the real target declines to size this table
    assert nbytes < atomic.MERGE_TASK_TARGET_BYTES
    assert t._merge_numparts(rel) is None
    # shrink the per-task target so the byte math decides
    monkeypatch.setattr(atomic, "MERGE_TASK_TARGET_BYTES", 1024)
    want = max(par, math.ceil(nbytes / 1024))
    assert t._merge_numparts(rel) == want
    assert t._merge_numparts([]) is None

    # wiring: a table-scale (non-broadcast) MERGE DELETE routes the
    # big side through _merge_sized with the touched files
    monkeypatch.setattr(atomic, "_PROBE_BROADCAST_CAP", 10)
    calls = []
    orig = AtomicParquetTable._merge_sized

    def spy(self, df, rel_files, stats=None):
        calls.append(sorted(rel_files))
        return orig(self, df, rel_files, stats)

    monkeypatch.setattr(AtomicParquetTable, "_merge_sized", spy)
    doomed = spark.createDataFrame(
        [(k,) for k in range(0, 5000, 2)], "k int"
    )
    t.merge_into(doomed, when_matched="delete", when_not_matched="skip")
    assert calls and calls[0] == sorted(rel)
    assert {r.k % 2 for r in t.read().collect()} == {1}
    assert t.read().count() == 2500

    # broadcast-sized probes must NOT pay the extra exchange
    calls.clear()
    t.delete_keys(spark.createDataFrame([(1,), (3,)], "k int"))
    assert calls == []
    assert t.read().count() == 2498
