"""Hash-bucket layout for the atomic table (VERDICT r11 task #5 —
C5's bucketed write married to the ACID table).

Contracts pinned here:
- the driver-side Murmur3 mirror (functions/spark_hash.py) equals
  Spark's F.hash AND real repartition placement for int/long/string
- a bucketed MERGE runs with exactly ONE Exchange (the clustered path
  pays a second range shuffle at stage time)
- upsert/delete churn keeps oracle-exact state, rewrites ONLY the
  touched buckets' files, and the layout claim survives
- point reads prune files (and whole chunks) by bucket id
- a layout-breaking commit (compact) DROPS the claim — pruning
  disables instead of going unsound — and the next full merge
  re-adopts it
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.functions.spark_hash import (
    spark_bucket,
    spark_hash_value,
)
from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

B = 16


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, ts int")


@pytest.fixture()
def table(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "b"), keys=["k"], bucket_by=B
    )
    t.upsert(
        _mk(spark, [(k, float(k), 0) for k in range(200)]),
        [F.col("ts").desc()],
    )
    return t


def test_hash_mirror_matches_spark(spark):
    longs = [0, 1, -1, 42, 2**40, -(2**40), 7304191080, 2**63 - 1,
             -(2**63)]
    df = spark.createDataFrame([(v,) for v in longs], "k long").select(
        "k", F.hash("k").alias("h"),
        F.pmod(F.hash("k"), F.lit(B)).alias("b"),
    )
    for r in df.collect():
        assert spark_hash_value(r.k, "bigint") == r.h, r.k
        assert spark_bucket(r.k, "bigint", B) == r.b, r.k
    ints = [0, 1, -1, 2**31 - 1, -(2**31), 12345]
    df = spark.createDataFrame([(v,) for v in ints], "k int").select(
        "k", F.hash("k").alias("h")
    )
    for r in df.collect():
        assert spark_hash_value(r.k, "int") == r.h, r.k
    strs = ["", "a", "ab", "abc", "abcd", "abcde", "héllo wörld",
            "🙂🙃", "x" * 999]
    df = spark.createDataFrame([(v,) for v in strs], "k string").select(
        "k", F.hash("k").alias("h")
    )
    for r in df.collect():
        assert spark_hash_value(r.k, "string") == r.h, repr(r.k)
    # and against REAL repartition placement — the layout contract
    from pyspark.sql.functions import spark_partition_id

    d = (
        spark.range(0, 500).withColumnRenamed("id", "k")
        .repartition(B, "k").withColumn("p", spark_partition_id())
    )
    for r in d.collect():
        assert spark_bucket(r.k, "bigint", B) == r.p, r.k
    # refusals: unmirrored types must return None, never a guess
    assert spark_hash_value(1.5, "double") is None
    assert spark_hash_value(True, "bigint") is None
    assert spark_bucket(None, "bigint", B) is None


def test_bucketed_merge_plan_has_one_exchange(spark, table):
    """The aligned merge shape: union(touched buckets' files, batch)
    → repartition(B, keys) → keep-latest window. The explicit hash
    repartition satisfies the window's clustering, so the plan holds
    EXACTLY one Exchange — the clustered path's stage-time
    repartitionByRange second shuffle never appears."""
    from stupp_exclusion_etl_spark.operators.dedup import keep_latest

    batch = _mk(spark, [(5, 99.0, 1)])
    merged = keep_latest(
        table.read().unionByName(batch).repartition(B, "k"),
        ["k"], [F.col("ts").desc()],
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_churn_oracle_parity_and_bucket_scoped_rewrites(spark, table):
    light0 = table._manifest_light(table.current_version())
    assert light0["layout"] == {
        "bucket_keys": ["k"], "n_buckets": B, "key_types": ["bigint"],
    }
    man0 = table._manifest(table.current_version())
    files0 = {f for fl in man0["partitions"].values() for f in fl}
    stats0 = man0["stats"]
    assert all(
        stats0[f].get("bucket") is not None for f in files0
    ), "every live file carries its bucket id"

    # model state driver-side
    state = {k: (float(k), 0) for k in range(200)}

    # upsert touching 3 keys → only those keys' buckets rewrite
    batch = [(5, -5.0, 1), (77, -77.0, 1), (300, -300.0, 1)]
    for k, v, ts in batch:
        state[k] = (v, ts)
    table.upsert(_mk(spark, batch), [F.col("ts").desc()])
    man1 = table._manifest(table.current_version())
    files1 = {f for fl in man1["partitions"].values() for f in fl}
    touched_buckets = {spark_bucket(k, "bigint", B) for k, _v, _t in batch}
    # untouched buckets' files carried verbatim
    for f in files0:
        if stats0[f]["bucket"] not in touched_buckets:
            assert f in files1, f"untouched bucket file {f} rewritten"
    # every surviving + new file still bucket-tagged, claim intact
    light1 = table._manifest_light(table.current_version())
    assert light1["layout"] == light0["layout"]
    assert all(
        (man1["stats"].get(f) or {}).get("bucket") is not None
        for f in files1
    )

    # keyed delete → bucket-scoped, claim survives
    table.delete_keys(spark.createDataFrame([(8,), (77,)], "k long"))
    for k in (8, 77):
        state.pop(k)
    light2 = table._manifest_light(table.current_version())
    assert light2["layout"] == light0["layout"]

    got = {r.k: (r.v, r.ts) for r in table.read().collect()}
    assert got == state

    # point reads stay exact THROUGH the pruned path
    assert [
        (r.k, r.v) for r in table.read(where=[("k", "=", 5)]).collect()
    ] == [(5, -5.0)]
    assert table.read(where=[("k", "=", 77)]).count() == 0


def test_merge_into_keeps_the_layout_claim(spark, table):
    """merge_into rewrites only the touched buckets and keeps the
    layout claim, so the next point upsert is bucket-scoped too."""
    light0 = table._manifest_light(table.current_version())
    table.merge_into(
        _mk(spark, [(5, -5.0, 1), (300, -300.0, 1)]),
        when_matched="update", when_not_matched="insert",
    )
    light1 = table._manifest_light(table.current_version())
    assert light1["layout"] == light0["layout"]
    man1 = table._manifest(table.current_version())
    files1 = {f for fl in man1["partitions"].values() for f in fl}
    table.upsert(_mk(spark, [(77, -77.0, 2)]), [F.col("ts").desc()])
    man2 = table._manifest(table.current_version())
    files2 = {f for fl in man2["partitions"].values() for f in fl}
    b77 = spark_bucket(77, "bigint", B)
    assert {man1["stats"][f]["bucket"] for f in files1 - files2} == {b77}
    got = {r.k: r.v for r in table.read().collect()}
    assert (got[5], got[77], got[300], len(got)) == (-5.0, -77.0, -300.0, 201)


def test_point_probe_prunes_files_and_chunks_by_bucket(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "p"), keys=["k"], bucket_by=B
    )
    t.chunk_target = 3  # force multi-chunk metadata
    t.upsert(
        _mk(spark, [(k, float(k), 0) for k in range(400)]),
        [F.col("ts").desc()],
    )
    rep = t.skipping_report([("k", "=", 123)])
    assert rep["files_kept"] <= max(
        1, rep["files_total"] // (B // 2)
    ), rep
    # the kept files all belong to the key's bucket
    man = t._manifest(t.current_version())
    bk = spark_bucket(123, "bigint", B)
    assert all(
        man["stats"][f]["bucket"] == bk for f in rep["kept"]
    )
    # chunk-level: bucket-ordered packing + per-chunk bucket summary
    # admit a strict subset of chunks
    assert rep["chunks_total"] >= 4
    assert rep["chunks_opened"] < rep["chunks_total"], rep
    # IN probe across two buckets
    rep2 = t.skipping_report([("k", "in", [1, 2])])
    want = {spark_bucket(1, "bigint", B), spark_bucket(2, "bigint", B)}
    assert all(
        man["stats"][f]["bucket"] in want for f in rep2["kept"]
    )
    assert sorted(
        r.k for r in t.read(where=[("k", "in", [1, 2])]).collect()
    ) == [1, 2]


def test_layout_claim_drops_on_compact_and_readopts(spark, table):
    v = table.current_version()
    assert table._manifest_light(v).get("layout") is not None
    cv = table.compact(target_bytes_per_file=1 << 30)
    if cv != v:  # compaction rewrote: bucket routing destroyed
        light = table._manifest_light(cv)
        assert light.get("layout") is None, (
            "compact() must not inherit a layout claim it broke"
        )
        # pruning is OFF (sound fallback): point read still exact
        assert table.read(where=[("k", "=", 5)]).count() == 1
        # next upsert detects the dead claim → full re-merge re-adopts
        table.upsert(_mk(spark, [(5, 5.5, 2)]), [F.col("ts").desc()])
        light2 = table._manifest_light(table.current_version())
        assert light2["layout"] == {
            "bucket_keys": ["k"], "n_buckets": B,
            "key_types": ["bigint"],
        }
        man = table._manifest(table.current_version())
        assert all(
            (man["stats"].get(f) or {}).get("bucket") is not None
            for fl in man["partitions"].values()
            for f in fl
        )
        assert {
            r.v for r in table.read(where=[("k", "=", 5)]).collect()
        } == {5.5}


def test_string_keys_bucket_layout(spark, tmp_path):
    t = AtomicParquetTable(
        spark, str(tmp_path / "s"), keys=["name"], bucket_by=8
    )
    rows = [(f"user-{i}", i) for i in range(100)]
    t.upsert(
        spark.createDataFrame(rows, "name string, ts int"),
        [F.col("ts").desc()],
    )
    assert t._manifest_light(t.current_version())["layout"][
        "n_buckets"
    ] == 8
    rep = t.skipping_report([("name", "=", "user-42")])
    assert rep["files_kept"] < rep["files_total"]
    assert [
        r.name
        for r in t.read(where=[("name", "=", "user-42")]).collect()
    ] == ["user-42"]


def test_bucket_by_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="exclusive"):
        AtomicParquetTable(
            spark, str(tmp_path / "x"), keys=["k"],
            cluster_by=["k"], bucket_by=4,
        )
    with pytest.raises(ValueError, match=">= 2"):
        AtomicParquetTable(
            spark, str(tmp_path / "y"), keys=["k"], bucket_by=1
        )


def test_time_travel_and_cdc_on_bucketed_table(spark, table):
    v0 = table.current_version()
    table.upsert(_mk(spark, [(5, -5.0, 1), (999, 9.0, 1)]),
                 [F.col("ts").desc()])
    ch = table.changes(v0, table.current_version())
    assert sorted((r.k, r._change_type) for r in ch.collect()) == [
        (5, "update"), (999, "insert"),
    ]
    assert table.read(version=v0).count() == 200
    # restore carries the layout claim with the restored files
    table.restore(version=v0)
    light = table._manifest_light(table.current_version())
    assert light["layout"] == {
        "bucket_keys": ["k"], "n_buckets": B, "key_types": ["bigint"],
    }
    assert table.read(where=[("k", "=", 5)]).collect()[0].v == 5.0


def test_bucket_key_dtype_widening_stays_sound(spark, tmp_path):
    """r12 ADVICE (medium): Spark's hash() is dtype-sensitive —
    hash(1 AS int) != hash(1 AS bigint) — so a bucket key widening
    across commits must NOT take the bucket-scoped merge (it would
    select the wrong candidate buckets, leaving duplicate keys) and
    must NOT prune reads with the wrong-dtype hash (it would silently
    drop matching rows). The layout claim records its key dtypes; a
    widening batch falls back to the full re-merge and re-adopts the
    claim under the widened dtypes."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "w"), keys=["k"], bucket_by=8
    )
    t.upsert(
        spark.createDataFrame(
            [(k, float(k), 0) for k in range(50)], "k int, v double, ts int"
        ),
        [F.col("ts").desc()],
    )
    l0 = t._manifest_light(t.current_version())
    assert l0["layout"]["key_types"] == ["int"]
    # hashes genuinely disagree for these keys under int vs bigint —
    # the scenario is live, not hypothetical
    assert any(
        spark_hash_value(k, "int") != spark_hash_value(k, "bigint")
        for k in range(50)
    )

    # widening batch: same logical keys as bigint, updated values
    t.upsert(
        spark.createDataFrame(
            [(k, -float(k), 1) for k in range(0, 50, 2)]
            + [(100, 100.0, 1)],
            "k long, v double, ts int",
        ),
        [F.col("ts").desc()],
    )
    l1 = t._manifest_light(t.current_version())
    assert l1["schema_ddl"].startswith("k bigint")
    assert l1["layout"] == {
        "bucket_keys": ["k"], "n_buckets": 8, "key_types": ["bigint"],
    }
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 51, "duplicate keys survived the widening merge"
    assert got[4] == -4.0 and got[5] == 5.0 and got[100] == 100.0

    # point reads through the (re-adopted, bigint-hashed) pruned path
    for k, want in [(4, -4.0), (5, 5.0), (100, 100.0)]:
        rows = t.read(where=[("k", "=", k)]).collect()
        assert [(r.k, r.v) for r in rows] == [(k, want)]
    assert t.read(where=[("k", "=", 999)]).count() == 0

    # a record claiming dtypes that disagree with its schema must
    # refuse to prune (sound fallback for tampered/corrupt claims)
    rec = dict(l1)
    rec["layout"] = {**l1["layout"], "key_types": ["int"]}
    assert t._allowed_buckets(rec, [("k", "=", 4)]) is None

    # time travel at v0 still prunes correctly under the OLD claim
    assert [
        (r.k, r.v) for r in t.read(version=0, where=[("k", "=", 4)])
        .collect()
    ] == [(4, 4.0)]

    # narrower-than-claimed batch (int keys against the now-bigint
    # layout): candidate buckets must come from the CLAIMED dtype's
    # hash, so the merge still retires the old rows
    t.upsert(
        spark.createDataFrame([(7, 777.0, 2)], "k int, v double, ts int"),
        [F.col("ts").desc()],
    )
    rows = t.read(where=[("k", "=", 7)]).collect()
    assert [(r.k, r.v) for r in rows] == [(7, 777.0)]
    assert t.read().count() == 51
    l2 = t._manifest_light(t.current_version())
    assert l2["layout"]["key_types"] == ["bigint"]


def test_delete_keys_with_widened_dtype_batch(spark, tmp_path):
    """Keyed delete whose doomed-keys frame is WIDER than the claimed
    layout dtype: bucket candidates hash under the claimed dtype (a
    value unrepresentable in it cannot match and is a no-op), and the
    delete stays exact."""
    t = AtomicParquetTable(
        spark, str(tmp_path / "dw"), keys=["k"], bucket_by=8
    )
    t.upsert(
        spark.createDataFrame(
            [(k, float(k), 0) for k in range(40)], "k int, v double, ts int"
        ),
        [F.col("ts").desc()],
    )
    t.delete_keys(
        spark.createDataFrame([(3,), (2**40,)], "k long")
    )
    assert t.read().count() == 39
    assert t.read(where=[("k", "=", 3)]).count() == 0
    assert t._manifest_light(t.current_version())["layout"][
        "key_types"
    ] == ["int"]


def test_multi_key_bucket_layout_and_chained_hash(spark, tmp_path):
    """Multi-column bucket keys: Spark chains the per-column hashes
    (hash_i seeds hash_{i+1}, initial 42); the driver-side mirror
    must reproduce the chain, and pruning applies only when EVERY
    bucket key is pinned by =/IN conjuncts — a partial pin can't
    bound the chained hash and must degrade to no-prune, never to an
    unsound skip."""
    from stupp_exclusion_etl_spark.functions.spark_hash import (
        spark_bucket_row,
        spark_hash_row,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 7}", float(i)) for i in range(60)],
        "k1 long, k2 string, v double",
    ).select(
        "k1", "k2", F.hash("k1", "k2").alias("h"),
        F.pmod(F.hash("k1", "k2"), F.lit(8)).alias("b"),
    )
    for r in df.collect():
        assert spark_hash_row([r.k1, r.k2], ["bigint", "string"]) == r.h
        assert spark_bucket_row(
            [r.k1, r.k2], ["bigint", "string"], 8
        ) == r.b
    # real placement under the composite key
    from pyspark.sql.functions import spark_partition_id

    d = (
        spark.createDataFrame(
            [(i, f"s{i % 7}") for i in range(200)], "k1 long, k2 string"
        )
        .repartition(8, "k1", "k2")
        .withColumn("p", spark_partition_id())
    )
    for r in d.collect():
        assert spark_bucket_row(
            [r.k1, r.k2], ["bigint", "string"], 8
        ) == r.p

    t = AtomicParquetTable(
        spark, str(tmp_path / "mk"), keys=["k1", "k2"], bucket_by=8
    )
    t.upsert(
        spark.createDataFrame(
            [(i, f"s{i % 7}", float(i), 0) for i in range(300)],
            "k1 long, k2 string, v double, ts int",
        ),
        [F.col("ts").desc()],
    )
    # both keys pinned → bucket-pruned
    rep = t.skipping_report([("k1", "=", 42), ("k2", "=", "s0")])
    assert rep["files_kept"] < rep["files_total"], rep
    bk = spark_bucket_row([42, "s0"], ["bigint", "string"], 8)
    man = t._manifest(t.current_version())
    assert all(man["stats"][f]["bucket"] == bk for f in rep["kept"])
    assert [
        (r.k1, r.k2)
        for r in t.read(
            where=[("k1", "=", 42), ("k2", "=", "s0")]
        ).collect()
    ] == [(42, "s0")]
    # only one key pinned → chained hash unbounded → no bucket claim
    assert t._allowed_buckets(
        t._manifest_light(t.current_version()), [("k1", "=", 42)]
    ) is None
    # ...and the read is still exact through the unpruned path
    assert t.read(where=[("k1", "=", 42)]).count() == 1
