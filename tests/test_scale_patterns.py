"""Tests for the 100 TB scale patterns: skew salting, bucketed
(co-located) joins, and pushdown/pruning plan shapes. These assert on
physical plans, not just results — the plan IS the deliverable at
scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.catalog import table
from stupp_exclusion_etl_spark.operators.joins import salted_join
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_join_equals_plain_join(spark):
    o = table(spark, SF_SMALL, "orders").select("o_custkey", "o_orderkey")
    c = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = o.join(c, "o_custkey").groupBy("c_mktsegment").count()
    salted = (
        salted_join(o, c, "o_custkey", n_salts=4).groupBy("c_mktsegment").count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    o = table(spark, SF_SMALL, "orders").select("o_custkey", "o_orderkey")
    # half the customers, left-outer: unmatched orders must survive once
    c = table(spark, SF_SMALL, "customer").filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = o.join(c, "o_custkey", "left").select("o_orderkey", "c_mktsegment")
    salted = salted_join(o, c, "o_custkey", n_salts=4, how="left").select(
        "o_orderkey", "c_mktsegment"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_outer_shapes(spark):
    """right/full_outer would emit unmatched small-side rows once per
    salt; the operator must refuse rather than silently duplicate."""
    import pytest

    o = table(spark, SF_SMALL, "orders").select("o_custkey")
    c = table(spark, SF_SMALL, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    for how in ("right", "full_outer", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(o, c, "o_custkey", n_salts=4, how=how)


def test_ngram_jaccard_hot_shingle_guard(spark):
    """Boilerplate shared by every document must not explode the
    inverted-index self-join: with max_df set below the corpus size the
    hot shingles are dropped before the join, so the all-pairs blowup
    (n·(n-1)/2 pairs from one shingle) never happens."""
    from stupp_exclusion_etl_spark.operators.dedup import ngram_jaccard_pairs

    n = 8
    boiler = "all rights reserved contact us for terms of service"
    rows = [(i, f"unique{i} content{i} body{i} " + boiler) for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.01, max_df=4
    )
    uncapped = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.01, max_df=None
    )
    # every boilerplate shingle has df=n > 4 → dropped → no shared
    # shingles remain → zero candidate pairs touch the join
    assert capped.count() == 0
    # without the guard the single boilerplate block yields all pairs
    assert uncapped.count() == n * (n - 1) // 2


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Write both join sides bucketed on the key; the sort-merge join
    must read them co-located — zero Exchange operators in the plan
    (the GSI/bucketing story for repeated 100 TB joins)."""
    o = table(spark, SF_SMALL, "orders")
    c = table(spark, SF_SMALL, "customer")
    try:
        for name, df, key in (("b_orders", o, "o_custkey"), ("b_cust", c, "c_custkey")):
            (
                df.write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
        bo, bc = spark.table("b_orders"), spark.table("b_cust")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bo.join(bc, bo.o_custkey == bc.c_custkey).select(
                "o_orderkey", "c_mktsegment"
            )
            assert j.count() > 0
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_scan_pushdown_and_pruning(spark):
    """Filter + projection must reach the parquet scan: PushedFilters
    carries the predicate, ReadSchema is pruned to selected columns."""
    li = (
        table(spark, SF_SMALL, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_comment" not in rs


def test_broadcast_join_no_big_side_shuffle(spark):
    """Enrichment join (A12) must broadcast the dimension — the fact
    side is never exchanged."""
    from stupp_exclusion_etl_spark.plans.registry import REGISTRY

    plan = _plan(REGISTRY["join_broadcast_enrich"].fn(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")


def _union_find_reference(edges) -> dict:
    """Plain-Python union-find: node -> min node of its component, for
    every node of a non-loop edge."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_star_known_graph(spark):
    """Chain of 6 (diameter 5), a triangle, and an isolated pair: every
    node must label with its component's min id."""
    from stupp_exclusion_etl_spark.operators.dedup import connected_components_star

    edges = [(10, 11), (11, 12), (12, 13), (13, 14), (14, 15),
             (20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r.doc_id: r.group_id for r in connected_components_star(pairs).collect()}
    assert got == _union_find_reference(edges) == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_dynamic_partition_pruning(spark, tmp_path):
    """Partition-pruned fact scan driven by a runtime dim filter (DPP):
    joining a partitioned fact to a filtered dimension must inject a
    dynamicpruning subquery on the fact's partition column, so at
    100 TB the scan reads only the dim-selected partitions instead of
    the whole table. (Static pruning is tested via the IVF path; this
    is the join-driven variant.)"""
    fact = str(tmp_path / "fact")
    from stupp_exclusion_etl_spark.catalog import table as t

    li = t(spark, "/root/testdata/sf0.001", "lineitem")
    li.write.partitionBy("l_returnflag").parquet(fact)
    dim = spark.createDataFrame(
        [("A", "keep")], "l_returnflag string, tag string"
    )
    joined = (
        spark.read.parquet(fact)
        .join(dim.filter(F.col("tag") == "keep"), "l_returnflag")
        .groupBy("l_returnflag")
        .count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:4000]
    got = {r.l_returnflag: r["count"] for r in joined.collect()}
    exact = {
        r.l_returnflag: r["count"]
        for r in li.groupBy("l_returnflag").count().collect()
        if r.l_returnflag == "A"
    }
    assert got == exact


def test_runtime_bloom_filter_injected(spark):
    """Runtime bloom-filter semi-join pruning: when the creation side
    is selective, Spark injects a bloom filter that pre-filters the big
    probe side BEFORE its shuffle — at 100 TB this cuts the shuffle of
    a fact-fact join by the dim selectivity. Thresholds are lowered to
    demonstrate the mechanism on test-scale data; the assertion is on
    the physical plan, the result check on values."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from stupp_exclusion_etl_spark.catalog import table as t

        li = t(spark, "/root/testdata/sf0.001", "lineitem")
        orders = t(spark, "/root/testdata/sf0.001", "orders").filter(
            F.col("o_totalprice") > 400000
        )
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloomfilter" in plan.lower().replace("_", ""), plan[:4000]
        assert joined.count() > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_split(spark, tmp_path):
    """AQE skew-join: a hot key whose partition exceeds the skew
    threshold must be split at runtime (the automatic complement to the
    manual operators.joins.salted_join). Thresholds are lowered to
    trigger on test-scale data; asserted on the final adaptive plan."""
    import uuid

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # the downstream agg would re-shuffle anyway; without force, AQE
        # declines any skew split that adds a shuffle
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        # coalescing merges the non-hot partitions first, masking the
        # hot one from the median-based skew detector at toy scale
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "16",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    big_p = str(tmp_path / f"big_{uuid.uuid4().hex[:6]}")
    small_p = str(tmp_path / f"small_{uuid.uuid4().hex[:6]}")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 50k rows on ONE key + 5k spread over 1k keys, vs a 1k-key dim.
        # Written to parquet so size stats are real.
        big = spark.range(50000).select(
            F.lit(0).alias("k"), F.rand(7).alias("x")
        ).unionAll(
            spark.range(5000).select(
                (F.col("id") % 1000 + 1).alias("k"), F.rand(11).alias("x")
            )
        )
        big.write.parquet(big_p)
        spark.range(1001).select(F.col("id").alias("k"), F.lit("d").alias("tag")).write.parquet(small_p)
        joined = (
            spark.read.parquet(big_p)
            .join(spark.read.parquet(small_p), "k")
            .groupBy("tag")
            .count()
        )
        assert joined.collect()[0]["count"] == 55000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE partition coalescing: a shuffle whose configured partition
    count (200 vanilla) vastly exceeds the data folds into few runtime
    partitions — the knob that makes one engine config serve sf0.001
    tests and 100 TB runs (AQEShuffleRead coalesced)."""
    from stupp_exclusion_etl_spark.catalog import table as t

    li = t(spark, "/root/testdata/sf0.001", "lineitem")
    agg = li.groupBy("l_returnflag").count()
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:3000]


def test_analytics_star_joins_are_broadcast(spark):
    """The multi-join analytics family must probe the fact table with
    broadcast hash joins — a sort-merge join against a dimension side
    means the 100 TB lineitem shuffles for no reason. Also: the Q3
    top-10 must plan as TakeOrderedAndProject, never a global sort."""
    from stupp_exclusion_etl_spark.plans.registry import REGISTRY

    q3 = REGISTRY["analytics_shipping_priority"].fn(spark, SF_SMALL)
    p3 = _plan(q3)
    assert "TakeOrderedAndProject" in p3, p3
    assert "BroadcastHashJoin" in p3, p3

    q5 = REGISTRY["analytics_local_supplier_volume"].fn(spark, SF_SMALL)
    p5 = _plan(q5)
    assert "BroadcastHashJoin" in p5, p5
    # the supplier⨝nation⨝region dimension stack must not cost lineitem
    # a shuffle: at most the orders/customer equi-joins + final group-by
    # exchange on the 25-key nation rollup
    assert "CartesianProduct" not in p5, p5

    q8 = REGISTRY["analytics_nation_market_share"].fn(spark, SF_SMALL)
    p8 = _plan(q8)
    assert "BroadcastHashJoin" in p8, p8


def test_schema_evolution_union_zero_shuffle(spark):
    """unionByName(allowMissingColumns) must plan as a pure Union of
    projections — missing columns are literal nulls, zero exchanges."""
    from stupp_exclusion_etl_spark.plans.registry import REGISTRY

    plan = _plan(REGISTRY["setop_union_schema_evolution"].fn(spark, SF_SMALL))
    assert "Union" in plan
    assert "Exchange" not in plan


def test_cdc_diff_join_reuses_snapshot_partitioning(spark):
    """cdc_user_state_diff: each snapshot shuffles once on user_id for
    its keep-latest window; the full-outer join must REUSE that
    partitioning (sort-merge on the same key) — exactly 2 hash
    exchanges in the whole plan, none introduced by the join."""
    import re

    from stupp_exclusion_etl_spark.plans.registry import REGISTRY

    plan = _plan(REGISTRY["cdc_user_state_diff"].fn(spark, SF_SMALL))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert "CartesianProduct" not in plan


def test_misra_gries_survives_eviction_churn(spark):
    """Adversarial MG bound check: 5 distinct items per partition force
    constant eviction in a k=4 sketch, yet the globally-heavy item
    (count > N/k) must surface with its EXACT count — the superset
    guarantee under churn, not just on easy data."""
    from stupp_exclusion_etl_spark.operators.sketches import heavy_hitters_exact

    rows = []
    for p in range(4):
        rows += [("heavy",)] * 40
        for f in range(4):
            rows += [(f"filler_{p}_{f}",)] * 20
    items = spark.createDataFrame(rows, "token string").repartition(4)
    got = heavy_hitters_exact(items, "token", k=4, top=5).collect()
    assert [(r.token, r.cnt) for r in got] == [("heavy", 160)]


def test_connected_components_star_matches_union_find_reference(spark):
    """connected_components_star must produce the (doc_id, group_id)
    map of a plain-Python union-find on a graph with every awkward shape
    at once: a diameter-9 chain, a 60-spoke hub (the skew shape star
    contraction exists for), a triangle, an isolated pair, and a dense
    random blob."""
    import random

    from stupp_exclusion_etl_spark.operators.dedup import connected_components_star

    random.seed(23)
    edges = [(i, i + 1) for i in range(100, 109)]           # chain
    edges += [(200, 200 + k) for k in range(1, 61)]          # hub
    edges += [(300, 301), (301, 302), (300, 302), (400, 401)]
    edges += [(500 + random.randrange(40), 500 + random.randrange(40))
              for _ in range(80)]                            # random blob
    edges = [e for e in edges if e[0] != e[1]]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {r.doc_id: r.group_id
           for r in connected_components_star(pairs).collect()}
    assert got == _union_find_reference(edges)
    assert got[109] == 100 and got[260] == 200 and got[401] == 400


def test_connected_components_star_empty_and_self_loops(spark):
    from stupp_exclusion_etl_spark.operators.dedup import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id1 long, id2 long")
    assert connected_components_star(empty).count() == 0
    loops = spark.createDataFrame([(7, 7), (8, 8), (7, 8)], "id1 long, id2 long")
    got = {r.doc_id: r.group_id
           for r in connected_components_star(loops).collect()}
    assert got == {7: 7, 8: 7}


def test_cbo_table_stats_reach_the_optimizer(spark):
    """Catalog statistics surface (the CBO half of A16's DDL story):
    saveAsTable + ANALYZE TABLE must land row/column stats in the
    catalog AND the optimizer's cost view — `explain('cost')` carries a
    rowCount only after ANALYZE, which is what lets the planner pick
    broadcast sides by cardinality instead of file size at 100 TB."""
    from tests.harness import plan_str

    spark.sql("DROP TABLE IF EXISTS cbo_probe")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.range(0, 1000).selectExpr(
            "id", "id % 7 AS k"
        ).write.saveAsTable("cbo_probe")
        q = spark.table("cbo_probe").filter("k = 3")
        before = plan_str(q, "cost")
        assert "rowCount=" not in before
        spark.sql(
            "ANALYZE TABLE cbo_probe COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        q2 = spark.table("cbo_probe").filter("k = 3")
        after = plan_str(q2, "cost")
        assert "rowCount=" in after, after  # CBO estimates present
        desc = {
            r.info_name: r.info_value
            for r in spark.sql("DESC EXTENDED cbo_probe k").collect()
        }
        assert desc["distinct_count"] == "7"
        assert desc["max"] == "6" and desc["min"] == "0"
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_probe")
        spark.conf.set("spark.sql.cbo.enabled", "false")


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join handling actually fires: a join where one key owns
    ~95% of the fact side must show `isSkew=true`-split partitions in
    the post-execution adaptive plan once the skew thresholds are
    lowered to test scale. This is the runtime half of the skew story
    (operators.joins.salted_join is the plan-time half)."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(7))
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias(
                "payload"
            ),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        joined = fact.join(dim, "k")
        # execute THIS dataset (count() would spawn a separate query
        # execution and leave joined's adaptive plan unfinalized)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skewed" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
