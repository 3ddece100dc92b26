"""The two placements of a predicated read (sinks/atomic.py): under the
driver byte budget ``read(where)`` is a pyarrow scan of the kept files
served as a LocalRelation (zero Spark jobs), above it a FileScan. The
forced FileScan (budget -1) is the reference: on every layout, schema
evolution and time-travel form, both placements must report the same
schema — names, types and nullability — and the same rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.functions.spark_hash import spark_hash_value
from stupp_exclusion_etl_spark.sinks import atomic
from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable


def _on_driver(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()


def _rows(df) -> list[str]:
    # repr, so NaN rows compare equal to themselves
    return sorted(repr(tuple(r)) for r in df.collect())


def _same_as_filescan(t, monkeypatch, where, **kw) -> int:
    """Both placements of one read agree; returns the row count."""
    drv = t.read(where=where, **kw)
    with monkeypatch.context() as m:
        m.setattr(atomic, "_DRIVER_SCAN_BYTES", -1)
        fs = t.read(where=where, **kw)
    version = kw.get("version")
    if "as_of_timestamp_ms" in kw:
        version = t.version_at(kw["as_of_timestamp_ms"])
    if t.skipping_report(where, version=version)["files_kept"]:
        assert _on_driver(drv) and not _on_driver(fs), where
    assert drv.schema == fs.schema, (where, drv.schema, fs.schema)
    rows = _rows(drv)
    assert rows == _rows(fs), where
    return len(rows)


def test_clustered_and_bloomed_reads_match_filescan(spark, tmp_path, monkeypatch):
    t = AtomicParquetTable(
        spark, str(tmp_path / "c"), keys=["k"], cluster_by=["k"],
        cluster_files=4, index_by=["attr"],
    )
    rows = [(k, f"Clerk#{k}", float(k) / 2 if k % 7 else float("nan"),
             None if k % 11 == 0 else f"s{k:03d}") for k in range(100)]
    t.upsert(spark.createDataFrame(rows, "k int, attr string, v double, "
                                         "s string"), [F.col("k")])
    for where, n in (
        ([("k", "=", 5)], 1),
        ([("k", ">=", 90)], 10),
        ([("k", "in", [1, 50, 99, 1000])], 3),
        ([("k", "in", [])], 0),
        ([("k", "=", "5")], 1),  # string literal on an int column
        ([("k", "=", 5.0)], 1),  # float literal on an int column
        ([("attr", "=", "Clerk#42")], 1),
        ([("attr", "in", ["Clerk#3", "Clerk#95", "Clerk#x"])], 2),
        ([("v", ">", 45.0)], 22),  # 7 values, and NaN sorts above all: 15
        ([("v", "<", 1.0)], 1),
        ([("s", "is_null"), ("k", "<", 50)], 5),
        ([("s", ">=", "s090"), ("v", "not_null")], 9),
    ):
        assert _same_as_filescan(t, monkeypatch, where) == n, where


def test_partitioned_reads_with_null_partition_match_filescan(
    spark, tmp_path, monkeypatch
):
    """Partition values come from the Hive dirs: escaped characters,
    the NULL default partition and typed int partitions, listed after
    the data columns as a FileScan lists them."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "p"), keys=["k"], partition_by=["part", "b"]
    )
    rows = (
        [(k, "A", k % 3, float(k)) for k in range(10)]
        + [(k, "x:y/z", 7, float(k)) for k in range(10, 15)]
        + [(k, None, None, float(k)) for k in range(15, 18)]
    )
    t.upsert(spark.createDataFrame(rows, "k int, part string, b int, "
                                         "v double"), [F.col("v").desc()])
    for where, n in (
        ([("part", "=", "A")], 10),
        ([("part", "=", "x:y/z")], 5),
        ([("part", "is_null")], 3),
        ([("b", ">=", 2)], 8),
        ([("b", "is_null"), ("v", ">", 15.0)], 2),
        ([("k", "in", [0, 12, 16])], 3),
    ):
        assert _same_as_filescan(t, monkeypatch, where) == n, where


def test_bucketed_reads_match_filescan(spark, tmp_path, monkeypatch):
    t = AtomicParquetTable(spark, str(tmp_path / "b"), keys=["k"], bucket_by=4)
    t.upsert(spark.createDataFrame([(k, float(k), 0) for k in range(40)],
                                   "k long, v double, ts int"),
             [F.col("ts").desc()])
    for where, n in (
        ([("k", "=", 7)], 1),
        ([("k", "in", [1, 2, 3, 39, 400])], 4),
        ([("v", ">", 30.0)], 9),
    ):
        assert _same_as_filescan(t, monkeypatch, where) == n, where


def test_widened_and_added_columns_and_time_travel_match_filescan(
    spark, tmp_path, monkeypatch
):
    """Files written before an int→bigint widening and before a column
    was added are cast and NULL-filled to the manifest schema; pinned
    versions and timestamps read their own schema."""
    t = AtomicParquetTable(spark, str(tmp_path / "w"), keys=["k"],
                           partition_by=["g"])
    v1 = t.upsert(spark.createDataFrame(
        [(k, k % 2, k * 10) for k in range(20)], "k int, g int, v int"
    ), [F.col("v").desc()])
    t1 = t._commit_time_ms(v1)
    t.upsert(spark.createDataFrame(
        [(k, 1, k * 10 + 2**40, "new") for k in range(21, 25, 2)],
        "k int, g int, v bigint, extra string",
    ), [F.col("v").desc()])
    assert dict(t.read().dtypes)["v"] == "bigint"
    for where, n in (
        ([("v", ">=", 100)], 12),
        ([("extra", "is_null")], 20),
        ([("extra", "=", "new")], 2),
        ([("g", "=", 0), ("v", "<", 50)], 3),
    ):
        assert _same_as_filescan(t, monkeypatch, where) == n, where
    for kw in ({"version": v1}, {"as_of_timestamp_ms": t1}):
        df = t.read(where=[("v", ">=", 100)], **kw)
        assert "extra" not in df.columns
        assert _same_as_filescan(t, monkeypatch, [("v", ">=", 100)], **kw) == 10


def test_every_carried_type_matches_filescan(spark, tmp_path, monkeypatch):
    t = AtomicParquetTable(spark, str(tmp_path / "ty"), keys=["k"])
    t.upsert(spark.sql(
        "SELECT CAST(id AS INT) AS k, CAST(id AS TINYINT) AS b, "
        "CAST(id AS SMALLINT) AS s, CAST(id / 3 AS FLOAT) AS f, "
        "CAST(id / 7 AS DECIMAL(10, 2)) AS d, id % 2 = 0 AS flag, "
        "DATE_ADD(DATE'2024-02-28', CAST(id AS INT)) AS day, "
        "CAST(CAST(id AS STRING) AS BINARY) AS raw, "
        "IF(id % 3 = 0, NULL, ARRAY(id / 2.0D, NULL)) AS vec "
        "FROM RANGE(12)"
    ), [F.col("k")])
    for where, n in (
        ([("k", ">=", 6)], 6),
        ([("f", "<", 1.0)], 3),
        ([("flag", "=", True)], 6),
        ([("vec", "is_null")], 4),
    ):
        assert _same_as_filescan(t, monkeypatch, where) == n, where


def test_unsupported_type_keeps_the_filescan(spark, tmp_path):
    """A timestamp column depends on the session time zone, which the
    Arrow round trip does not carry: such a table keeps the FileScan."""
    t = AtomicParquetTable(spark, str(tmp_path / "ts"), keys=["k"])
    t.upsert(spark.sql("SELECT 1 AS k, TIMESTAMP'2024-01-01 00:00:00' AS at"),
             [F.col("k")])
    df = t.read(where=[("k", "=", 1)])
    assert not _on_driver(df)
    assert df.count() == 1


@pytest.mark.parametrize("n", [1, 2, 7, 16])
def test_hash_slot_reps_route_to_their_slot(spark, tmp_path, n):
    """pmod(hash(rep_i), n) == i for every slot: by the driver-side
    Murmur3 mirror, and by the partition a repartition(n) on the rep
    actually puts it in."""
    t = AtomicParquetTable(spark, str(tmp_path / "h"), keys=["k"])
    reps = t._hash_slot_reps(n)
    assert len(reps) == n
    assert [spark_hash_value(r, "int") % n for r in reps] == list(range(n))
    placed = (
        spark.createDataFrame([(i, r) for i, r in enumerate(reps)],
                              "i int, r int")
        .repartition(n, "r")
        .select("i", F.spark_partition_id().alias("p"))
        .collect()
    )
    assert all(row.i == row.p for row in placed) and len(placed) == n


def test_rows_above_the_local_relation_cap_keep_the_filescan(
    spark, tmp_path, monkeypatch
):
    """The prefiltered rows decide too: a read whose kept rows outgrow
    _LOCAL_RELATION_BYTES is a FileScan, with the same answer."""
    t = AtomicParquetTable(spark, str(tmp_path / "cap"), keys=["k"])
    t.upsert(spark.createDataFrame([(k, float(k)) for k in range(50)],
                                   "k int, v double"), [F.col("k")])
    small = t.read(where=[("k", "<", 3)])
    monkeypatch.setattr(atomic, "_LOCAL_RELATION_BYTES", 64)
    broad = t.read(where=[("k", ">=", 3)])
    assert _on_driver(small) and not _on_driver(broad)
    assert small.count() + broad.count() == 50


def test_literals_reach_the_filter_as_given(spark, tmp_path, monkeypatch):
    """Spark's SQL parser substitutes ``${...}`` in SQL text; a string
    literal goes to the filter as a Column literal, so it is compared
    as given on both placements."""
    t = AtomicParquetTable(spark, str(tmp_path / "lit"), keys=["k"])
    vals = ["${x}", "${env:HOME}", "${spark.app.name}", "", "it's", "a\\b"]
    t.upsert(spark.createDataFrame(list(enumerate(vals)), "k int, s string"),
             [F.col("k")])
    for i, v in enumerate(vals):
        where = [("s", "=", v)]
        assert _same_as_filescan(t, monkeypatch, where) == 1, v
        assert t.read(where=where).first().k == i, v
    assert _same_as_filescan(t, monkeypatch, [("s", "in", vals[:3])]) == 3


def test_column_names_resolve_like_spark(spark, tmp_path):
    """Spark resolves a predicate's column case-insensitively; a name
    not spelled as in the schema keeps the FileScan, and an unknown
    column still fails as Spark fails it."""
    from pyspark.errors import AnalysisException

    t = AtomicParquetTable(spark, str(tmp_path / "case"), keys=["k"])
    t.upsert(spark.createDataFrame([(k, float(k)) for k in range(10)],
                                   "k int, v double"), [F.col("k")])
    df = t.read(where=[("K", "=", 5)])
    assert not _on_driver(df)
    assert [tuple(r) for r in df.collect()] == [(5, 5.0)]
    with pytest.raises(AnalysisException):
        t.read(where=[("nope", "=", 5)]).collect()


def test_read_that_keeps_no_file_matches_a_normal_read(spark, tmp_path):
    """Pruning that keeps no file still reports the columns in the
    FileScan order (partition columns last), and collecting the empty
    frame starts no Spark job."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "e"), keys=["k"], partition_by=["part"]
    )
    t.upsert(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0)], "k int, part string, v double"
        ),
        [F.col("v").desc()],
    )
    empty = t.read(where=[("part", "=", "Z")])
    assert empty.columns == t.read().columns == ["k", "v", "part"]
    sc = spark.sparkContext._jsc.sc()
    before = sc.dagScheduler().numTotalJobs()
    assert empty.collect() == []
    assert sc.dagScheduler().numTotalJobs() == before
