"""Manifest data skipping (sinks/atomic.py): per-file min/max/null
stats collected from parquet footers at commit, carried forward for
untouched files, and used by ``read(where=...)`` to prune the file
list before Spark plans the scan — the Delta/Iceberg stats-index idea
(reference parity: the scraper's DynamoDB GSIs make its point lookups
metadata-scale; this is the lakehouse equivalent for the 100 TB path).

Every pruning test double-checks VALUES against an unpruned filter, so
skipping can only ever be proven to remove work, never rows.
"""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.sinks.atomic import (
    AtomicParquetTable,
    _enc_stat_value,
    _file_may_match,
    _zvalue_column,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "k int, part string, v double, s string, ts int"
    )


def _vals(df):
    return sorted(
        (r.k, r.part, r.v, r.s, r.ts) for r in df.collect()
    )


@pytest.fixture()
def clustered(spark, tmp_path):
    """Unpartitioned table clustered on k into 4 range-disjoint files:
    k 0..99 over files ~[0,25) [25,50) [50,75) [75,100)."""
    t = AtomicParquetTable(
        spark,
        str(tmp_path / "tbl"),
        keys=["k"],
        cluster_by=["k"],
        cluster_files=4,
    )
    rows = [(k, "A" if k % 2 else "B", float(k) / 2, f"s{k:03d}", 0)
            for k in range(100)]
    t.upsert(_df(spark, rows), [F.col("ts").desc()])
    return t, rows


def test_stats_present_and_typed(clustered):
    t, _rows = clustered
    man = t.snapshot()
    files = [f for fl in man["partitions"].values() for f in fl]
    assert len(files) == 4
    assert set(man["stats"]) == set(files)
    for st in man["stats"].values():
        assert st["rows"] > 0
        k = st["cols"]["k"]
        assert k["t"] == "i" and k["nulls"] == 0
        assert 0 <= k["min"] <= k["max"] <= 99
        assert st["cols"]["v"]["t"] == "f"
        assert st["cols"]["s"]["t"] == "s"


def test_cluster_ranges_disjoint(spark, clustered, monkeypatch):
    """The first commit's ranges come from sampling; a later commit
    routes by the manifest's boundaries (``_cluster_route_expr``),
    keys outside the known range included, and its files stay
    disjoint and its rows the last-write-wins fold."""
    t, rows = clustered

    def assert_disjoint():
        spans = sorted(
            (c["k"]["min"], c["k"]["max"])
            for c in (s["cols"] for s in t.snapshot()["stats"].values())
        )
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, "range clustering must yield disjoint files"

    assert_disjoint()
    routes = []
    real = t._cluster_route_expr
    monkeypatch.setattr(
        t, "_cluster_route_expr", lambda n: routes.append(real(n)) or routes[-1]
    )
    late = [(k, "C", float(k), f"n{k}", 1) for k in (-7, -1, 10, 60, 99, 150, 400)]
    t.upsert(_df(spark, late), [F.col("ts").desc()])
    assert routes and all(r is not None for r in routes)
    assert_disjoint()
    fold = {r[0]: r for r in rows}
    fold.update({r[0]: r for r in late})
    assert _vals(t.read()) == sorted(fold.values())


@pytest.mark.parametrize(
    "where,max_kept",
    [
        ([("k", "=", 10)], 1),
        ([("k", "in", [3, 97])], 2),
        ([("k", "<", 20)], 1),
        ([("k", "<=", 30)], 2),
        ([("k", ">", 80)], 1),
        ([("k", ">=", 50)], 2),
        ([("k", ">=", 40), ("k", "<", 60)], 2),
        ([("k", "is_null")], 0),
        ([("s", "=", "s042")], 4),  # no stats-order help expected
    ],
)
def test_prune_counts_and_exact_values(spark, clustered, where, max_kept):
    t, rows = clustered
    rep = t.skipping_report(where)
    assert rep["files_total"] == 4
    assert rep["files_kept"] <= max_kept
    pruned = t.read(where=where)
    full = t.read()
    for pred in where:
        from stupp_exclusion_etl_spark.sinks.atomic import _predicate_column

        full = full.filter(_predicate_column(pred))
    assert _vals(pruned) == _vals(full)


def test_second_upsert_carries_and_replaces_stats(spark, clustered):
    t, rows = clustered
    t.upsert(
        _df(spark, [(7, "A", 99.0, "seven", 1)]), [F.col("ts").desc()]
    )
    man = t.snapshot()
    files = [f for fl in man["partitions"].values() for f in fl]
    assert set(man["stats"]) == set(files), (
        "every live file keeps stats across commits"
    )
    # the updated row is findable and last-write-wins survived pruning
    got = t.read(where=[("k", "=", 7)]).collect()
    assert [(r.k, r.v, r.s) for r in got] == [(7, 99.0, "seven")]


def test_delete_and_compact_keep_stats(spark, clustered):
    t, rows = clustered
    t.delete_keys(spark.createDataFrame([(k,) for k in range(50)], "k int"))
    man = t.snapshot()
    files = [f for fl in man["partitions"].values() for f in fl]
    assert set(man["stats"]) == set(files)
    t.compact(target_bytes_per_file=1 << 30)
    man = t.snapshot()
    files = [f for fl in man["partitions"].values() for f in fl]
    assert set(man["stats"]) == set(files)
    assert t.read(where=[("k", ">=", 50)]).count() == 50
    assert t.read(where=[("k", "<", 50)]).count() == 0


def test_pre_stats_manifest_reads_and_never_prunes(spark, tmp_path):
    """Manifests written before the stats field existed must read and
    filter correctly with zero pruning (stats absent ⇒ keep)."""
    import json
    import os

    t = AtomicParquetTable(spark, str(tmp_path / "old"), keys=["k"])
    t.upsert(
        _df(spark, [(1, "A", 1.0, "x", 0), (2, "B", 2.0, "y", 0)]),
        [F.col("ts").desc()],
    )
    # rewrite v0 as a stats-less FORMAT-1 (self-contained) manifest —
    # the pre-stats, pre-chunk history shape — and read through a
    # fresh table object (manifests are memoized per instance)
    mpath = os.path.join(t.path, "_manifests", "v000000000000.json")
    man = dict(t._manifest(0))
    for k in ("stats", "format", "chunks", "n_files", "n_partitions"):
        man.pop(k, None)
    json.dump(man, open(mpath, "w"))
    t = AtomicParquetTable(spark, t.path, keys=["k"])
    rep = t.skipping_report([("k", "=", 1)])
    assert rep["files_kept"] == rep["files_total"]
    assert [r.k for r in t.read(where=[("k", "=", 1)]).collect()] == [1]


def test_null_handling(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "n"), keys=["k"],
        cluster_by=["k"], cluster_files=2,
    )
    rows = [(k, None if k < 10 else "p", None if k < 10 else float(k),
             "s", 0) for k in range(20)]
    t.upsert(_df(spark, rows), [F.col("ts").desc()])
    rep_null = t.skipping_report([("v", "is_null")])
    rep_val = t.skipping_report([("v", ">=", 10.0)])
    # the all-null file is skipped for value predicates, the all-value
    # file for is_null
    assert rep_null["files_kept"] == 1
    assert rep_val["files_kept"] == 1
    assert t.read(where=[("v", "is_null")]).count() == 10
    assert t.read(where=[("v", "not_null")]).count() == 10


def test_float_nan_never_wrongly_pruned(spark, tmp_path):
    """Spark orders NaN above every double, but parquet stats exclude
    NaN — so >, >= must not prune float columns, and results with NaN
    rows must match Spark's own filter semantics exactly."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "nan"), keys=["k"],
        cluster_by=["k"], cluster_files=2,
    )
    rows = [(k, "A", float("nan") if k in (3, 17) else float(k), "s", 0)
            for k in range(20)]
    t.upsert(_df(spark, rows), [F.col("ts").desc()])
    def norm(df):
        return sorted(
            (r.k, "NaN" if math.isnan(r.v) else r.v) for r in df.collect()
        )

    got = t.read(where=[("v", ">", 15.0)])
    want = t.read().filter(F.col("v") > 15.0)
    assert norm(got) == norm(want)
    assert got.filter(F.isnan("v")).count() == 2, (
        "NaN rows satisfy > in Spark ordering and must survive pruning"
    )
    # NaN literal: pruning disabled, equality still exact
    got_eq = t.read(where=[("v", "=", float("nan"))])
    assert got_eq.count() == 2


def test_string_bounds_dropped_when_long(spark, tmp_path):
    t = AtomicParquetTable(spark, str(tmp_path / "s"), keys=["k"])
    long_s = "z" * 200
    t.upsert(
        _df(spark, [(1, "A", 1.0, long_s, 0), (2, "A", 2.0, "aa", 0)]),
        [F.col("ts").desc()],
    )
    st = next(iter(t.snapshot()["stats"].values()))["cols"]["s"]
    assert st["max"] is None, "oversized string bound must be dropped"
    assert st["min"] == "aa"
    # an unbounded max keeps the file for > predicates
    assert t.read(where=[("s", ">", "y")]).count() == 1


def test_spark_stats_fallback_matches_footer_path(spark, tmp_path, monkeypatch):
    """On a non-local filesystem the footer reader is unavailable and
    stats come from one Spark aggregate grouped by input_file_name —
    the two paths must produce the same bounds/null counts so pruning
    behaves identically wherever the table lives."""
    import stupp_exclusion_etl_spark.sinks.atomic as atomic_mod

    rows = [(k, "A" if k % 3 else None, float(k), f"s{k:03d}", 0)
            for k in range(60)]

    def build(path):
        t = AtomicParquetTable(
            spark, path, keys=["k"], cluster_by=["k"], cluster_files=3
        )
        t.upsert(_df(spark, rows), [F.col("ts").desc()])
        return t

    footer_t = build(str(tmp_path / "footer"))
    monkeypatch.setattr(atomic_mod, "_local_fs_path", lambda p: None)
    spark_t = build(str(tmp_path / "sparkjob"))

    def norm(t):
        # stats keyed by each file's k-range so the two tables'
        # differently-named files align
        out = {}
        for st in t.snapshot()["stats"].values():
            c = st["cols"]
            out[(c["k"]["min"], c["k"]["max"])] = (
                st["rows"], c["v"], c["s"], c["part"]["nulls"]
            )
        return out

    assert norm(footer_t) == norm(spark_t)
    rep = spark_t.skipping_report([("k", "<", 20)])
    assert rep["files_kept"] == 1
    assert spark_t.read(where=[("k", "<", 20)]).count() == 20


def test_enc_and_prune_unit_edges():
    assert _enc_stat_value(float("inf"), "f") is None
    assert _enc_stat_value(datetime.date(2020, 1, 2), "d") == datetime.date(
        2020, 1, 2
    ).toordinal()
    us = _enc_stat_value(datetime.datetime(1970, 1, 1, 0, 0, 1), "t")
    assert us == 1_000_000
    fstat = {
        "rows": 10,
        "cols": {"c": {"t": "i", "min": 5, "max": 9, "nulls": 0}},
    }
    assert not _file_may_match(fstat, "c", "=", [4])
    assert _file_may_match(fstat, "c", "=", [5])
    assert not _file_may_match(fstat, "c", "<", [5])
    assert _file_may_match(fstat, "c", "<=", [5])
    assert not _file_may_match(fstat, "c", ">", [9])
    assert _file_may_match(fstat, "c", ">=", [9])
    # unknown stats keep the file
    assert _file_may_match(None, "c", "=", [4])
    assert _file_may_match({"rows": 1, "cols": {}}, "c", "=", [4])
    # float guard: > never prunes
    ffloat = {
        "rows": 10,
        "cols": {"c": {"t": "f", "min": 0.0, "max": 1.0, "nulls": 0}},
    }
    assert _file_may_match(ffloat, "c", ">", [5.0])
    assert not _file_may_match(ffloat, "c", "<", [0.0])
    assert _file_may_match(ffloat, "c", "=", [float("nan")])
    assert math.isnan(_enc_stat_value(float("nan"), "f") or float("nan"))


def test_partition_value_pruning_at_manifest_level(spark, tmp_path):
    """A predicate on a partition column eliminates whole partitions
    from the file list by parsing the Hive dir strings — before any
    per-file stat or footer is consulted. Null partitions and
    percent-escaped values must round-trip through the escaping."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "pp"), keys=["k"], partition_by=["part"]
    )
    rows = (
        [(k, "A", float(k), "s", 0) for k in range(10)]
        + [(k, "B", float(k), "s", 0) for k in range(10, 20)]
        + [(k, "x:y", float(k), "s", 0) for k in range(20, 25)]
        + [(k, None, float(k), "s", 0) for k in range(25, 28)]
    )
    t.upsert(_df(spark, rows), [F.col("ts").desc()])
    total = t.skipping_report([])["files_total"]

    rep = t.skipping_report([("part", "=", "A")])
    assert 0 < rep["files_kept"] < total
    assert t.read(where=[("part", "=", "A")]).count() == 10
    # escaped special characters parse back correctly
    rep2 = t.skipping_report([("part", "=", "x:y")])
    assert 0 < rep2["files_kept"] < total
    assert t.read(where=[("part", "=", "x:y")]).count() == 5
    # NULL partition: is_null keeps only the Hive default dir
    repn = t.skipping_report([("part", "is_null")])
    assert 0 < repn["files_kept"] < total
    assert t.read(where=[("part", "is_null")]).count() == 3
    assert t.read(where=[("part", "not_null")]).count() == 25
    assert t.read(where=[("part", "in", ["A", "B"])]).count() == 20


def test_partition_range_pruning_typed(spark, tmp_path):
    """Range predicates on an int partition column compare typed, not
    lexicographic — part=9 < part=10 must hold."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "pr"), keys=["k"], partition_by=["bucket"]
    )
    rows = [(k, k % 12, float(k)) for k in range(120)]
    t.upsert(
        spark.createDataFrame(rows, "k int, bucket int, v double"),
        [F.col("v").desc()],
    )
    rep = t.skipping_report([("bucket", ">=", 9)])
    assert rep["files_kept"] < rep["files_total"]
    got = t.read(where=[("bucket", ">=", 9)])
    assert got.count() == 30  # buckets 9, 10, 11
    assert sorted(set(r.bucket for r in got.collect())) == [9, 10, 11]


def test_zorder_prunes_on_every_clustered_column(spark, tmp_path):
    """cluster_order='zorder' interleaves the cluster columns' bucket
    bits, so a predicate on ANY clustered column prunes files — where
    lexicographic range clustering only ever prunes on the first.
    Values must match the plain filter under both orders."""
    rows = [(i, i % 100, (i * 7919) % 100, float(i)) for i in range(20000)]
    df = spark.createDataFrame(rows, "k int, a int, b int, vv double")

    def build(order):
        t = AtomicParquetTable(
            spark, str(tmp_path / order), keys=["k"],
            cluster_by=["a", "b"], cluster_files=16, cluster_order=order,
        )
        t.upsert(
            df.withColumn("ts", F.lit(0)),
            [F.col("ts").desc()],
        )
        return t

    rng_t, z_t = build("range"), build("zorder")
    a_pred = [("a", ">=", 10), ("a", "<", 20)]
    b_pred = [("b", ">=", 10), ("b", "<", 20)]
    # range clustering: second column never prunes
    assert rng_t.skipping_report(b_pred)["files_kept"] == 16
    # z-order: BOTH dimensions prune
    za = z_t.skipping_report(a_pred)["files_kept"]
    zb = z_t.skipping_report(b_pred)["files_kept"]
    assert za < 16 and zb < 16, (za, zb)
    for t in (rng_t, z_t):
        for preds in (a_pred, b_pred, [("a", "=", 42), ("b", "=", 13)]):
            got = t.read(where=preds).count()
            want = df
            for pred in preds:
                from stupp_exclusion_etl_spark.sinks.atomic import (
                    _predicate_column,
                )

                want = want.filter(_predicate_column(pred))
            assert got == want.count()


def test_zvalue_column_matches_python_morton(spark):
    """_zvalue_column is the engine's one z-order encoder; pin its bit
    layout against a plain Python Morton code. Each column buckets as
    min(max(floor((v-lo)/(hi-lo)*256), 0), 255) over the frame's
    min/max, and bit b of column i lands at position b*k + i. A
    constant column adds no bits but still counts in k."""
    import random

    rng = random.Random(7)
    pts = [(rng.uniform(-50.0, 50.0), 3.0, rng.uniform(0.0, 1e6)) for _ in range(64)]
    cols = ["x", "c", "y"]
    df = spark.createDataFrame(pts, "x double, c double, y double")

    k = len(cols)
    lo_hi = [(min(p[i] for p in pts), max(p[i] for p in pts)) for i in range(k)]

    def morton(p) -> int:
        z = 0
        for i, (lo, hi) in enumerate(lo_hi):
            if hi <= lo:
                continue
            bucket = min(max(math.floor((p[i] - lo) / (hi - lo) * 256), 0), 255)
            for b in range(8):
                z |= ((bucket >> b) & 1) << (b * k + i)
        return z

    got = df.withColumn("z", _zvalue_column(df, cols)).collect()
    assert len(got) == 64
    for r in got:
        p = (r.x, r.c, r.y)
        assert r.z == morton(p), (p, r.z, morton(p))


def test_zorder_invalid_order_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="cluster_order"):
        AtomicParquetTable(
            spark, str(tmp_path / "bad"), keys=["k"],
            cluster_by=["a"], cluster_order="hilbert",
        )


def test_partitioned_table_stats_and_combined_pruning(spark, tmp_path):
    """Partition pruning (dir-level) and stats pruning (file-level)
    compose: predicate on the partition col narrows dirs via the
    manifest partition map's files, predicate on the cluster col
    narrows files within them."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "p"), keys=["k"], partition_by=["part"],
        cluster_by=["k"], cluster_files=4,
    )
    rows = [(k, "A" if k < 50 else "B", float(k), f"s{k}", 0)
            for k in range(100)]
    t.upsert(_df(spark, rows), [F.col("ts").desc()])
    rep = t.skipping_report([("k", ">=", 90)])
    assert rep["files_kept"] < rep["files_total"]
    got = t.read(where=[("part", "=", "B"), ("k", ">=", 90)])
    assert sorted(r.k for r in got.collect()) == list(range(90, 100))


def test_type_mismatched_literal_degrades_conservatively(spark, clustered):
    """A predicate literal of the wrong type for the column's stat tag
    (ADVICE r7: read(where=("k","=","5")) on an int column raised
    TypeError in the ordered prune comparisons) must disable pruning
    for that predicate and fall through to the exact Spark filter —
    never crash, never lose a row."""
    t, rows = clustered
    # string literal on int column: prune is a no-op, Spark's implicit
    # cast still answers the query exactly
    rep = t.skipping_report([("k", "=", "5")])
    assert rep["files_kept"] == rep["files_total"]
    got = _vals(t.read(where=[("k", "=", "5")]))
    assert got == [r for r in sorted(rows) if r[0] == 5]
    # int literal on string column
    rep = t.skipping_report([("s", "=", 5)])
    assert rep["files_kept"] == rep["files_total"]
    # unit edges: mismatches encode to None (⇒ keep file)
    assert _enc_stat_value("5", "i") is None
    assert _enc_stat_value("abc", "f") is None
    assert _enc_stat_value(5, "s") is None
    assert _enc_stat_value(True, "i") is None
    assert _enc_stat_value(5, "f") == 5.0  # int on float stays usable


def test_empty_in_list_is_empty_result(spark, clustered):
    """('col','in',[]) is SQL's x IN (): false for every row — it must
    prune everything and return an empty frame with the table schema,
    not crash Column.isin() (ADVICE r7)."""
    t, rows = clustered
    df = t.read(where=[("k", "in", [])])
    assert df.count() == 0
    assert df.columns == t.read().columns
    rep = t.skipping_report([("k", "in", [])])
    assert rep["files_kept"] == 0


@pytest.fixture()
def bloomed(spark, tmp_path):
    """Table clustered on k with a DERIVED high-cardinality attr as a
    declared index column: every file's lexical [min,max] on attr
    spans ~the whole domain (range stats can't prune), the bloom can."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "bl"), keys=["k"],
        cluster_by=["k"], cluster_files=8, index_by=["attr", "code"],
    )
    rows = [(k, f"Clerk#{k}", 100 + (k % 37), float(k)) for k in range(400)]
    t.upsert(
        spark.createDataFrame(
            rows, "k int, attr string, code int, v double"
        ),
        [F.col("k")],
    )
    return t, rows


def test_bloom_prunes_on_non_clustered_column(spark, bloomed):
    t, rows = bloomed
    # lexical min/max can't separate 'Clerk#101' from any file's
    # ['Clerk#0'-ish, 'Clerk#9'-ish] span — only the bloom prunes
    rep = t.skipping_report([("attr", "=", "Clerk#101")])
    assert rep["files_total"] == 8
    assert rep["files_kept"] <= 2, (
        f"bloom should keep ~1 of 8 files, kept {rep['files_kept']}"
    )
    got = [(r.k, r.attr) for r in t.read(
        where=[("attr", "=", "Clerk#101")]
    ).collect()]
    assert got == [(101, "Clerk#101")]
    # provably-absent value prunes everything
    rep = t.skipping_report([("attr", "=", "Clerk#999999")])
    assert rep["files_kept"] == 0
    assert t.read(where=[("attr", "=", "Clerk#999999")]).count() == 0
    # IN keeps the union of the members' files
    rep = t.skipping_report(
        [("attr", "in", ["Clerk#3", "Clerk#395", "Clerk#999999"])]
    )
    assert 1 <= rep["files_kept"] <= 4
    got = sorted(r.k for r in t.read(
        where=[("attr", "in", ["Clerk#3", "Clerk#395", "Clerk#999999"])]
    ).collect())
    assert got == [3, 395]


def test_bloom_never_loses_a_match_property(spark, bloomed):
    """Soundness sweep: for EVERY row of the table, an equality probe
    on each indexed column must keep the row — a bloom false negative
    would silently drop data (the one failure mode that matters)."""
    t, rows = bloomed
    man = t.snapshot()
    file_part = {
        f: p for p, fl in man["partitions"].items() for f in fl
    }
    assert all(
        "bloom" in man["stats"][f] for f in file_part
    ), "every file must carry blooms for the declared index columns"
    # drive the real read path for a sample; the pure prune decision
    # for every single row value
    for k, attr, code, _v in rows[::7]:
        kept = t._prune_files(
            man, list(file_part), [("attr", "=", attr)]
        )
        got = {r.k for r in t.read(where=[("attr", "=", attr)]).collect()}
        assert k in got, f"bloom lost k={k} attr={attr}"
        assert kept, f"prune dropped every file for present {attr}"
        kept_c = t._prune_files(
            man, list(file_part), [("code", "=", code)]
        )
        assert kept_c
    # int index column: exact values via the real read
    got = sorted(
        r.k for r in t.read(where=[("code", "=", 100)]).collect()
    )
    assert got == [k for k in range(400) if 100 + (k % 37) == 100]


def test_bloom_carried_forward_and_rebuilt(spark, bloomed):
    """Untouched files keep their blooms across later commits; files
    rewritten by compact() get fresh blooms; restore() carries them."""
    t, rows = bloomed
    t.upsert(
        spark.createDataFrame(
            [(1000, "Clerk#1000", 999, -1.0)],
            "k int, attr string, code int, v double",
        ),
        [F.col("k")],
    )
    man = t.snapshot()
    live = {f for fl in man["partitions"].values() for f in fl}
    assert all("bloom" in man["stats"][f] for f in live)
    assert t.read(where=[("attr", "=", "Clerk#1000")]).count() == 1
    assert t.read(where=[("attr", "=", "Clerk#101")]).count() == 1
    v_before = t.current_version()
    t.compact(target_bytes_per_file=1 << 30)
    man2 = t.snapshot()
    live2 = {f for fl in man2["partitions"].values() for f in fl}
    assert all("bloom" in man2["stats"][f] for f in live2)
    assert t.read(where=[("attr", "=", "Clerk#101")]).count() == 1
    t.restore(v_before)
    man3 = t.snapshot()
    live3 = {f for fl in man3["partitions"].values() for f in fl}
    assert all("bloom" in man3["stats"][f] for f in live3)
    rep = t.skipping_report([("attr", "=", "Clerk#999999")])
    assert rep["files_kept"] == 0


def test_keyed_probe_read_broadcasts_from_manifest_bound(spark, tmp_path):
    """Manifest-stats join planning (VERDICT r8 task #3): a keyed =/IN
    probe can yield at most prod(|values|) rows (snapshot keys are
    unique), so even when the kept files' BYTES exceed the broadcast
    threshold — where static Spark plans a shuffle join — read() hints
    broadcast from bound_rows x measured bytes/row. Values stay
    oracle-equal; only the join strategy changes."""
    from tests.plan_guard import compiled_plan

    t = AtomicParquetTable(
        spark, str(tmp_path / "probe"), keys=["k"],
        cluster_by=["k"], cluster_files=4,
    )
    pay = "x" * 400
    t.upsert(
        spark.createDataFrame(
            [(k, float(k), pay + str(k), 0) for k in range(4000)],
            "k int, v double, s string, ts int",
        ),
        [F.col("ts").desc()],
    )
    big = spark.range(200_000).select(
        (F.col("id") % 4000).cast("int").alias("k"),
        F.col("id").alias("x"),
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # every kept file (~1000 wide rows) is far above this
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "8KB")
        probe = t.read(where=[("k", "in", (5, 6, 7))])
        plan = compiled_plan(big.join(probe, "k"))
        assert "BroadcastHashJoin" in plan, plan
        # control: the same files WITHOUT the keyed bound (non-key
        # range predicate) must not be hinted — static Spark's
        # bytes-based estimate stands, and it says shuffle
        rng = t.read(where=[("v", "<", 3000.0)])
        ctrl = compiled_plan(big.join(rng, "k"))
        assert "BroadcastHashJoin" not in ctrl, ctrl
        assert "SortMergeJoin" in ctrl, ctrl
        # a probe bigger than the threshold allows must NOT be hinted:
        # 3000 keys x ~430 B/row >> 8 KB
        wide = t.read(where=[("k", "in", tuple(range(3000)))])
        wplan = compiled_plan(big.join(wide, "k"))
        assert "BroadcastHashJoin" not in wplan, wplan
        # correctness: hinted probe result values are exact
        got = sorted(
            (r.k, r.x)
            for r in big.join(probe, "k").select("k", "x").collect()
        )
        want = sorted(
            (k, x) for x in range(200_000)
            if (k := x % 4000) in (5, 6, 7)
        )
        assert got == want
        # broadcast disabled (-1): respected, no hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        off = compiled_plan(
            big.join(t.read(where=[("k", "=", 5)]), "k")
        )
        assert "BroadcastHashJoin" not in off, off
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
