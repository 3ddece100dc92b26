"""Window-function plans (SURVEY.md §2 B6) + keep-latest upsert semantics (A15/B9).

The reference's keyed upsert (last-write-wins by ID,
reference __main__.py:8-24) is exactly `row_number() == 1` over a key
window ordered by recency — the MERGE stand-in for plain parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.catalog import table
from stupp_exclusion_etl_spark.plans._shared import r4
from stupp_exclusion_etl_spark.plans.registry import register


@register(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
    tags=("B6",),
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the scalable per-group top-K (one
    shuffle on the partition key; no global sort)."""
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_rank_dense",
    oracle="""
    SELECT p_size, p_partkey, p_retailprice,
           CAST(rank() OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank
    FROM part
    WHERE p_size <= 5
    WINDOW w AS (PARTITION BY p_size ORDER BY p_retailprice DESC, p_partkey)
    """,
    tags=("B6",),
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank with deterministic tie-break."""
    w = W.partitionBy("p_size").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_size", "p_partkey", "p_retailprice")
        .withColumn("price_rank", F.rank().over(w).cast("long"))
        .withColumn("price_dense_rank", F.dense_rank().over(w).cast("long"))
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(o_totalprice, 4) AS price,
           ROUND(lag(o_totalprice) OVER w, 4) AS prev_price,
           ROUND(lead(o_totalprice) OVER w, 4) AS next_price
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("B6",),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over an event-ordered per-key window."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            r4(F.col("o_totalprice")).alias("price"),
            r4(F.lag("o_totalprice").over(w)).alias("prev_price"),
            r4(F.lead("o_totalprice").over(w)).alias("next_price"),
        )
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_spent,
           CAST(row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders WHERE o_custkey < 100
    """,
    tags=("B6",),
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate with an explicit ROWS frame."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            r4(
                F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            ).alias("running_spent"),
            F.row_number().over(w).cast("long").alias("order_seq"),
        )
    )


@register(
    "upsert_keep_latest",
    oracle="""
    SELECT o_custkey AS ID, o_orderkey, o_orderdate, o_totalprice
    FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
    tags=("A15", "B9", "B6"),
)
def upsert_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed last-write-wins upsert (A15, reference __main__.py:8-24):
    keep the most recent record per key. Implemented via the dedup
    operator (window row_number==1); on a table format this is
    MERGE INTO (see sinks.atomic.AtomicParquetTable.upsert)."""
    from stupp_exclusion_etl_spark.operators.dedup import keep_latest

    out = keep_latest(
        table(spark, sf_dir, "orders"),
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return out.select(
        F.col("o_custkey").alias("ID"), "o_orderkey", "o_orderdate", "o_totalprice"
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(count(*) OVER (
             PARTITION BY o_custkey
             ORDER BY datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last_90d
    FROM orders
    WHERE o_orderkey < 5000
    """,
    tags=("B6",),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, how many
    of their orders fall in the trailing 90-day window ending at each
    order. The frame bound is over the ordering VALUE (days), so ties
    and gaps behave per SQL RANGE semantics — distinct from
    win_running_sum's ROWS frame."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    days = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-90, W.currentRow)
    )
    return o.select(
        "o_orderkey", F.count(F.lit(1)).over(w).alias("n_last_90d")
    )


@register(
    "win_ntile_dist",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pct_rank,
           ROUND(cume_dist() OVER w, 6) AS cume
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("B6",),
)
def win_ntile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile buckets, percent_rank,
    cume_dist per priority group (deterministic ordering via the
    orderkey tie-break)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "win_gap_fill",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
      FROM events)
    SELECT event_id, user_id,
           ROUND(v, 4) AS v,
           ROUND(last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled
    FROM e
    """,
    tags=("B6", "B14"),
)
def win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill / gap-fill: carry the last non-null measurement
    forward within each user's event timeline (last + ignorenulls over
    a running frame) — the standard repair for sparsely-reported
    telemetry before sessionization or feature extraction. Nulls are
    injected deterministically (testdata has none). One shuffle on
    user_id; rows with no prior value stay null in both engines."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round("v", 4).alias("v"),
        F.round(F.last("v", ignorenulls=True).over(w), 4).alias("filled"),
    )


@register(
    "atomic_upsert_read",
    oracle="""
    WITH batch1 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, 1 AS batch
      FROM orders WHERE o_orderkey % 10 < 5),
    batch2 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice,
             o_orderpriority, 2 AS batch
      FROM orders WHERE o_orderkey % 10 BETWEEN 3 AND 7),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY batch DESC) AS rn
      FROM (SELECT * FROM batch1 UNION ALL SELECT * FROM batch2))
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM latest WHERE rn = 1
    GROUP BY o_orderpriority
    """,
    tags=("A15", "A16", "C16"),
)
def atomic_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end drive of the atomic manifest-commit table
    (sinks.atomic.AtomicParquetTable, C16): two overlapping order
    batches are upserted into a throwaway partitioned table — batch 2
    re-prices the keys it shares with batch 1 and must win — and the
    committed snapshot is read back through the manifest and
    aggregated. The oracle computes the same last-write-wins merge in
    SQL, so the driver verifies the sink's MERGE semantics, the
    manifest read path, and the partition carry-forward all at once.
    Money totals rounded to 2 (double SUM over ~9k rows in engine-
    specific order: 4dp is below double ulp noise at 1e8 magnitudes)."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    b1 = o.filter(k % 10 < 5).withColumn("batch", F.lit(1))
    b2 = (
        o.filter((k % 10 >= 3) & (k % 10 <= 7))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4))
        .withColumn("batch", F.lit(2))
    )
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_q_"),
        keys=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    t.upsert(b1, [F.col("batch").desc()])
    t.upsert(b2, [F.col("batch").desc()])
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "atomic_skipping_read",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_custkey) AS BIGINT) AS custkey_sum
    FROM orders
    WHERE o_custkey >= 30 AND o_custkey < 120
    GROUP BY o_orderpriority
    """,
    tags=("A2", "A16", "C16"),
)
def atomic_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest data skipping end to end (sinks.atomic stats index):
    orders land in a throwaway table range-CLUSTERED on o_custkey
    (repartitionByRange at write — Delta OPTIMIZE ZORDER's 1-D case),
    the commit records per-file min/max/null stats read from parquet
    footers, and the range lookup goes through ``read(where=...)``,
    which drops every file whose [min,max] can't intersect the
    predicate BEFORE Spark plans the scan — at 100 TB this turns a
    range probe over millions of live files into a metadata decision
    plus a few-file scan, the lakehouse analog of the reference's GSI
    point reads. The oracle is the plain filter over the same rows, so
    the driver proves pruning never changes the answer; the pruning
    *ratio* itself is asserted in tests/test_data_skipping.py."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_s_"),
        keys=["o_orderkey"],
        cluster_by=["o_custkey"],
        cluster_files=8,
    )
    t.upsert(o, [F.col("o_orderkey")])
    # range chosen inside every SF's custkey domain (sf0.001 tops out
    # near 150), so the query returns rows at all test scales
    pruned = t.read(
        where=[("o_custkey", ">=", 30), ("o_custkey", "<", 120)]
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("o_custkey").cast("long").alias("custkey_sum"),
    )


@register(
    "atomic_index_read",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           'Clerk#' || CAST(o_orderkey AS VARCHAR) AS clerk,
           o_orderpriority,
           ROUND(o_totalprice, 4) AS total
    FROM orders
    WHERE 'Clerk#' || CAST(o_orderkey AS VARCHAR) IN
          ('Clerk#1', 'Clerk#7', 'Clerk#33', 'Clerk#644',
           'Clerk#1200', 'Clerk#999999937')
    """,
    tags=("A2", "A16", "C16"),
)
def atomic_index_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary-index (GSI-parity) point lookups on a NON-clustered
    column (sinks.atomic ``index_by`` blooms; reference
    __main__.py:37-45 promises metadata-scale equality lookups on six
    non-key attributes): orders land clustered on o_orderkey with a
    derived high-cardinality ``clerk`` attribute declared as an index
    column — its per-file lexical [min,max] spans nearly the whole
    domain ('Clerk#1'…'Clerk#9…'), so range stats CANNOT prune, but
    the per-file bloom knows which clerk values each file actually
    holds, and the IN probe keeps only the files containing a probed
    value (one absent value exercises the prove-absent path). At
    100 TB this is the difference between a metadata decision plus a
    couple of file scans and a full-table scan for every GSI-shaped
    probe. Pruning never loses a match (property-tested in
    tests/test_data_skipping.py); the oracle is the plain filter."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).withColumn(
        "clerk",
        F.concat(F.lit("Clerk#"), F.col("o_orderkey").cast("string")),
    )
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_i_"),
        keys=["o_orderkey"],
        cluster_by=["o_orderkey"],
        cluster_files=8,
        index_by=["clerk"],
    )
    t.upsert(o, [F.col("o_orderkey")])
    pruned = t.read(
        where=[(
            "clerk", "in",
            ["Clerk#1", "Clerk#7", "Clerk#33", "Clerk#644",
             "Clerk#1200", "Clerk#999999937"],
        )]
    )
    return pruned.select(
        "o_orderkey", "clerk", "o_orderpriority",
        F.round("o_totalprice", 4).alias("total"),
    )


@register(
    "atomic_probe_join",
    oracle="""
    SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           ROUND(o.o_totalprice, 4) AS total,
           COUNT(*) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (1, 2, 3, 4, 5, 6, 7, 32, 33, 4000000)
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    tags=("A12", "A16", "C16"),
)
def atomic_probe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats join planning (VERDICT r8 task #3): a keyed IN
    probe into the atomic table is joined against the full lineitem
    fact. The probe's output is PROVABLY ≤ 10 rows (snapshot keys are
    unique), but its kept files' bytes are what static Spark sees —
    read() instead derives bound_rows × measured bytes/row from the
    manifest and hints broadcast, so the fact side never shuffles (at
    100 TB: a point-probe enrichment join over millions of live files
    becomes a metadata decision + a broadcast, the reference's
    GSI-lookup-then-join shape). One absent key (4000000) exercises
    the prove-absent prune. Plan pinned broadcast in
    tests/test_data_skipping.py; the oracle is the plain join."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_p_"),
        keys=["o_orderkey"],
        cluster_by=["o_orderkey"],
        cluster_files=8,
    )
    t.upsert(o, [F.col("o_orderkey")])
    probe = t.read(
        where=[(
            "o_orderkey", "in",
            [1, 2, 3, 4, 5, 6, 7, 32, 33, 4000000],
        )]
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(probe, li["l_orderkey"] == probe["o_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                4,
            ).alias("revenue"),
        )
        .select(
            "o_orderkey",
            F.round("o_totalprice", 4).alias("total"),
            "n_lines",
            "revenue",
        )
    )


@register(
    "atomic_changes_read",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 < 6),
    b2 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 BETWEEN 4 AND 8),
    final AS (
      SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS k,
             COALESCE(n.o_totalprice, o.o_totalprice) AS p
      FROM b1 o FULL JOIN b2 n ON n.o_orderkey = o.o_orderkey),
    kept AS (SELECT * FROM final WHERE k % 7 <> 0),
    feed AS (
      SELECT k, p, 'insert' AS ct FROM kept
      WHERE k NOT IN (SELECT o_orderkey FROM b1)
      UNION ALL
      SELECT o_orderkey, o_totalprice, 'delete' FROM b1
      WHERE o_orderkey NOT IN (SELECT k FROM kept)
      UNION ALL
      SELECT f.k, f.p, 'update' FROM kept f
      JOIN b1 o ON o.o_orderkey = f.k
      JOIN b2 n ON n.o_orderkey = f.k)
    SELECT ct AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(SUM(p), 2) AS total
    FROM feed GROUP BY ct
    """,
    tags=("A15", "A16", "C16"),
)
def atomic_changes_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed drive (sinks.atomic.changes): base batch, an
    overlapping re-priced upsert, a keyed delete — then the row-level
    feed between the base version and the final snapshot, aggregated
    by change type. The feed is computed from ONLY the files that
    entered/left the manifest (a metadata diff plus two bounded
    scans), and rows merely copied into rewritten files compare equal
    and drop out — so the oracle can restate the feed as pure batch
    algebra (insert = new keys surviving the delete, delete = base
    keys gone, update = re-priced keys that survived), which is
    exactly the incremental-reprocessing contract a downstream
    tokenization/indexing stage consumes. Money sums rounded to 2."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_c_"),
        keys=["o_orderkey"],
        cluster_by=["o_orderkey"],
        cluster_files=8,
    )
    t.upsert(
        o.filter(k % 10 < 6).withColumn("ts", F.lit(0)),
        [F.col("ts").desc()],
    )
    v0 = t.current_version()
    t.upsert(
        o.filter((k % 10 >= 4) & (k % 10 <= 8))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4))
        .withColumn("ts", F.lit(1)),
        [F.col("ts").desc()],
    )
    t.delete_keys(o.filter(k % 7 == 0).select("o_orderkey"))
    return (
        t.changes(v0)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "atomic_merge_read",
    oracle="""
    WITH init AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 < 6),
    src1 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.2, 4) AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 BETWEEN 4 AND 8),
    merged AS (
      SELECT COALESCE(s.o_orderkey, i.o_orderkey) AS o_orderkey,
             COALESCE(s.o_totalprice, i.o_totalprice) AS o_totalprice,
             COALESCE(s.o_orderpriority, i.o_orderpriority) AS o_orderpriority
      FROM init i FULL JOIN src1 s ON s.o_orderkey = i.o_orderkey),
    after_delete AS (SELECT * FROM merged WHERE o_orderkey % 3 <> 0)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM after_delete
    GROUP BY o_orderpriority
    """,
    tags=("A15", "A16", "C16"),
)
def atomic_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end drive of MERGE INTO on the atomic table
    (AtomicParquetTable.merge_into, VERDICT r6 task #8): an initial insert,
    then one MERGE whose source both UPDATES its matched keys
    (re-priced) and INSERTS its unmatched ones, then a
    WHEN MATCHED DELETE merge removing every key ≡ 0 (mod 3) — each a
    single atomic partition-scoped commit — and the surviving snapshot
    read back through the manifest. The oracle restates the same
    clause algebra as a FULL JOIN + filter, so the driver verifies
    update-wins, insert, delete, and partition carry-forward in one
    hash. Money totals rounded to 2 (engine-order double sums)."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    t = AtomicParquetTable(
        spark,
        tempfile.mkdtemp(prefix="atomic_m_"),
        keys=["o_orderkey"],
        partition_by=["o_orderpriority"],
    )
    t.merge_into(o.filter(k % 10 < 6))
    t.merge_into(
        o.filter((k % 10 >= 4) & (k % 10 <= 8)).withColumn(
            "o_totalprice", F.round(F.col("o_totalprice") * 1.2, 4)
        ),
        when_matched="update",
        when_not_matched="insert",
    )
    t.merge_into(
        o.filter(k % 3 == 0).select("o_orderkey"),
        when_matched="delete",
        when_not_matched="skip",
    )
    return (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )

@register(
    "atomic_schema_evolution",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey, o_totalprice, 1 AS batch
      FROM orders WHERE o_orderkey % 10 < 6),
    b2 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.05, 4) AS o_totalprice,
             ROUND(o_totalprice * 0.1, 4) AS disc, 2 AS batch
      FROM orders WHERE o_orderkey % 10 BETWEEN 4 AND 9),
    merged AS (
      SELECT COALESCE(b2.o_orderkey, b1.o_orderkey) AS k,
             COALESCE(b2.o_totalprice, b1.o_totalprice) AS price,
             b2.disc AS disc,
             CASE WHEN b1.o_orderkey IS NULL THEN 'insert'
                  WHEN b2.o_orderkey IS NULL THEN 'carry'
                  ELSE 'update' END AS st
      FROM b1 FULL JOIN b2 ON b1.o_orderkey = b2.o_orderkey)
    SELECT 'v0' AS section, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total,
           CAST(NULL AS BIGINT) AS disc_nulls,
           CAST(NULL AS DOUBLE) AS disc_total
    FROM b1
    UNION ALL
    SELECT 'head', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(price), 2),
           CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(disc), 2)
    FROM merged
    UNION ALL
    SELECT 'cdc_insert', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(price), 2),
           CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(disc), 2)
    FROM merged WHERE st = 'insert'
    UNION ALL
    SELECT 'cdc_update', CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(price), 2),
           CAST(SUM(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           ROUND(SUM(disc), 2)
    FROM merged WHERE st = 'update'
    """,
    tags=("A15", "A16", "C16"),
)
def atomic_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the atomic table's OWN upsert path (VERDICT
    r9 task #5): batch 1 lands without the ``disc`` column, batch 2
    adds it while re-pricing its overlap — the manifest schema widens
    via _union_ddl, old files stay as-written. Verified in one hash:
    (a) time travel to the pre-evolution snapshot reads the ORIGINAL
    narrow schema/values; (b) the head read null-fills ``disc`` for
    pre-evolution rows (declared-manifest-schema read, not footer
    mergeSchema); (c) the CDC feed across the evolution boundary
    aligns both schemas and classifies inserts vs updates correctly.
    The oracle restates all three sections over a FULL JOIN of the two
    batches. Money totals rounded to 2 (engine-order double sums).
    Evolution rules documented at sinks/atomic.py::_union_ddl."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    b1 = o.filter(k % 10 < 6).withColumn("batch", F.lit(1))
    b2 = (
        o.filter((k % 10 >= 4) & (k % 10 <= 9))
        .withColumn("disc", F.round(F.col("o_totalprice") * 0.1, 4))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.05, 4))
        .withColumn("batch", F.lit(2))
    )
    t = AtomicParquetTable(
        spark, tempfile.mkdtemp(prefix="atomic_se_"), keys=["o_orderkey"]
    )
    v0 = t.upsert(b1, [F.col("batch").desc()])
    t.upsert(b2, [F.col("batch").desc()])

    def section(name, df, has_disc):
        aggs = [
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ]
        if has_disc:
            aggs += [
                F.sum(F.col("disc").isNull().cast("long"))
                .cast("long").alias("disc_nulls"),
                F.round(F.sum("disc"), 2).alias("disc_total"),
            ]
        else:
            aggs += [
                F.lit(None).cast("long").alias("disc_nulls"),
                F.lit(None).cast("double").alias("disc_total"),
            ]
        return df.agg(*aggs).select(F.lit(name).alias("section"), "*")

    cdc = t.changes(v0, t.current_version())
    return (
        section("v0", t.read(version=v0), has_disc=False)
        .unionByName(section("head", t.read(), has_disc=True))
        .unionByName(section(
            "cdc_insert", cdc.filter(F.col("_change_type") == "insert"),
            has_disc=True,
        ))
        .unionByName(section(
            "cdc_update", cdc.filter(F.col("_change_type") == "update"),
            has_disc=True,
        ))
    )


@register(
    "coercion_decimal_money",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderpriority AS pr FROM orders),
    b1 AS (
      SELECT k, pr,
             try_cast(printf('%d.%02d', k % 10000, (k * 31) % 100)
                      AS DECIMAL(12,2)) AS amt
      FROM base WHERE k % 3 <> 0),
    raw2 AS (
      SELECT k, pr,
             CASE WHEN k % 97 = 0 THEN '1E5'
                  WHEN k % 97 = 1 THEN ' 12.50 '
                  WHEN k % 97 = 2 THEN '12.34567'
                  WHEN k % 97 = 3 THEN 'abc'
                  ELSE printf('%d.%04d', k % 10000, (k * 7919) % 10000)
             END AS s
      FROM base WHERE k % 2 = 0),
    b2 AS (
      SELECT k, pr,
             CASE WHEN regexp_matches(s, '(?i)(e|inf|nan)') THEN NULL
                  WHEN regexp_matches(trim(s),
                       '^[+-]?([0-9]+(\\.[0-9]{0,4})?|\\.[0-9]{1,4})$')
                    THEN try_cast(trim(s) AS DECIMAL(18,4))
             END AS amt
      FROM raw2),
    head AS (
      SELECT COALESCE(b2.k, b1.k) AS k,
             COALESCE(b2.pr, b1.pr) AS pr,
             CASE WHEN b2.k IS NOT NULL THEN b2.amt ELSE b1.amt END AS amt
      FROM b1 FULL JOIN b2 ON b1.k = b2.k),
    cdc AS (
      SELECT CASE WHEN b1.k IS NULL THEN 'insert' ELSE 'update' END AS grp,
             b2.amt AS amt
      FROM b2 LEFT JOIN b1 ON b1.k = b2.k)
    SELECT 'head' AS section, pr AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(amt) AS DECIMAL(38,4)) AS VARCHAR) AS total,
           CAST(SUM(CASE WHEN amt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null
    FROM head GROUP BY pr
    UNION ALL
    SELECT 'cdc', grp, CAST(COUNT(*) AS BIGINT),
           CAST(CAST(SUM(amt) AS DECIMAL(38,4)) AS VARCHAR),
           CAST(SUM(CASE WHEN amt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM cdc GROUP BY grp
    """,
    tags=("A13", "A15", "B14", "C16"),
)
def coercion_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECIMAL-money fidelity end to end (VERDICT r10 task #5 —
    SURVEY §1.2: DynamoDB `N` is arbitrary-precision decimal, so the
    money path must never round through binary doubles): money
    STRINGS — clean 2dp, clean 4dp, plus the guard cases (scientific
    notation, whitespace-tolerant, OVER-scale '12.34567' which must
    coerce to NULL rather than round since Spark and DuckDB round
    differently, and plain garbage) — parse through
    functions.coercion.typify_decimal into DECIMAL(12,2) (batch 1)
    and DECIMAL(18,4) (batch 2), upsert into an atomic table whose
    manifest schema must WIDEN across the two decimal types
    (sinks/atomic.py _wider_ddl_type lattice), and the verified
    outputs are the head snapshot's per-priority EXACT decimal sums
    AND the v0→v1 change feed's sums — both compared as fixed-scale
    DECIMAL(38,4) strings, so a single ulp of float contamination
    anywhere in ingest, merge, widening, or CDC breaks the hash."""
    import tempfile

    from stupp_exclusion_etl_spark.functions.coercion import typify_decimal
    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("pr")
    )
    k = F.col("k")
    amt1 = F.format_string("%d.%02d", k % 10000, (k * 31) % 100)
    b1 = (
        o.filter(k % 3 != 0)
        .withColumn("amt", typify_decimal(amt1, 12, 2))
        .withColumn("ts", F.lit(1))
    )
    s2 = (
        F.when(k % 97 == 0, F.lit("1E5"))
        .when(k % 97 == 1, F.lit(" 12.50 "))
        .when(k % 97 == 2, F.lit("12.34567"))
        .when(k % 97 == 3, F.lit("abc"))
        .otherwise(F.format_string("%d.%04d", k % 10000, (k * 7919) % 10000))
    )
    b2 = (
        o.filter(k % 2 == 0)
        .withColumn("amt", typify_decimal(s2, 18, 4))
        .withColumn("ts", F.lit(2))
    )
    t = AtomicParquetTable(
        spark, tempfile.mkdtemp(prefix="atomic_dec_"), keys=["k"]
    )
    t.upsert(b1, [F.col("ts").desc()])
    t.upsert(b2, [F.col("ts").desc()])

    def agg(df: DataFrame, grp: Column, section: str) -> DataFrame:
        return (
            df.groupBy(grp.alias("grp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amt").cast("decimal(38,4)").cast("string")
                .alias("total"),
                F.sum(F.col("amt").isNull().cast("long")).alias("n_null"),
            )
            .select(F.lit(section).alias("section"), "*")
        )

    head = agg(t.read(), F.col("pr"), "head")
    cdc = agg(t.changes(0, 1), F.col("_change_type"), "cdc")
    return head.unionByName(cdc)


@register(
    "atomic_sql_time_travel",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 10 < 5),
    b2 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice,
             o_orderpriority
      FROM orders WHERE o_orderkey % 10 BETWEEN 3 AND 7),
    head AS (
      SELECT COALESCE(b2.o_orderkey, b1.o_orderkey) AS k,
             COALESCE(b2.o_totalprice, b1.o_totalprice) AS price,
             COALESCE(b2.o_orderpriority, b1.o_orderpriority) AS pr
      FROM b1 FULL JOIN b2 ON b1.o_orderkey = b2.o_orderkey)
    SELECT 'v0' AS section, o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM b1 GROUP BY 2
    UNION ALL
    SELECT 'ts', o_orderpriority, CAST(COUNT(*) AS BIGINT),
           ROUND(SUM(o_totalprice), 2)
    FROM b1 GROUP BY 2
    UNION ALL
    SELECT 'head', pr, CAST(COUNT(*) AS BIGINT), ROUND(SUM(price), 2)
    FROM head GROUP BY 2
    """,
    tags=("A16", "C16"),
)
def atomic_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL facade for time travel (VERDICT r10 task #7): after two
    overlapping upserts, EVERYTHING below the table API is plain
    ``spark.sql`` over views — ``create_view`` pins the v0 snapshot by
    VERSION, the same snapshot by TIMESTAMP (resolved through
    version_at, so the 'ts' section must hash-equal the 'v0' one), and
    the live head. The oracle restates the upsert algebra; a facade
    that resolved the wrong snapshot, or a timestamp pin drifting off
    its version twin, shifts a whole section and fails the hash."""
    import tempfile
    import uuid as _uuid

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    t = AtomicParquetTable(
        spark, tempfile.mkdtemp(prefix="atomic_sql_"), keys=["o_orderkey"]
    )
    t.upsert(o.filter(k % 10 < 5).withColumn("b", F.lit(1)),
             [F.col("b").desc()])
    v0 = t.current_version()
    t.upsert(
        o.filter((k % 10 >= 3) & (k % 10 <= 7))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4))
        .withColumn("b", F.lit(2)),
        [F.col("b").desc()],
    )
    tag = _uuid.uuid4().hex[:8]
    v_v0 = t.create_view(f"att_{tag}_v0", version=v0)
    v_ts = t.create_view(
        f"att_{tag}_ts", as_of_timestamp_ms=t._commit_time_ms(v0)
    )
    v_head = t.create_view(f"att_{tag}_head")
    return spark.sql(f"""
        SELECT 'v0' AS section, o_orderpriority AS grp,
               COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
        FROM {v_v0} GROUP BY 2
        UNION ALL
        SELECT 'ts', o_orderpriority, COUNT(*),
               ROUND(SUM(o_totalprice), 2)
        FROM {v_ts} GROUP BY 2
        UNION ALL
        SELECT 'head', o_orderpriority, COUNT(*),
               ROUND(SUM(o_totalprice), 2)
        FROM {v_head} GROUP BY 2
    """)


@register(
    "atomic_bucketed_merge",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority, 1 AS batch
      FROM orders WHERE o_orderkey % 10 < 6),
    b2 AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice,
             o_orderpriority, 2 AS batch
      FROM orders WHERE o_orderkey % 10 BETWEEN 4 AND 9),
    latest AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY batch DESC) AS rn
      FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)),
    final AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM latest WHERE rn = 1 AND o_orderkey % 17 <> 0)
    SELECT 'head' AS section, o_orderpriority AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM final GROUP BY o_orderpriority
    UNION ALL
    SELECT 'point', CAST(o_orderkey AS VARCHAR),
           CAST(1 AS BIGINT), ROUND(o_totalprice, 2)
    FROM final
    WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM final)
    """,
    # C5 lineage (bucketed write) documented in the docstring; the
    # window-coverage guard keys on tags, and C5's window slot is the
    # bucketed-write pytest surface, not this query
    tags=("A15", "A16", "C16"),
)
def atomic_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucket layout end to end (VERDICT r11 task #5 —
    sinks.atomic ``bucket_by``, C5's bucketed write married to the
    atomic table): two overlapping order batches MERGE into a
    16-bucket table (data files routed by pmod(hash(key), 16) — the
    same partitioning the keep-latest window needs, so the whole
    merge runs with ONE exchange and no stage-time range shuffle;
    plan pinned in tests/test_bucket_layout.py), a keyed delete
    retires every 17th key bucket-scoped, and the surviving snapshot
    is read back. The 'point' section goes through
    ``read(where=...)`` — the query ASSERTS the bucket prune kept a
    strict file subset before returning, so a silently-disabled
    layout claim fails the driver run rather than degrading. The
    oracle restates the merge, the delete, and the point lookup over
    the orders view."""
    import tempfile

    from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    b1 = o.filter(k % 10 < 6).withColumn("batch", F.lit(1))
    b2 = (
        o.filter((k % 10 >= 4) & (k % 10 <= 9))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4))
        .withColumn("batch", F.lit(2))
    )
    t = AtomicParquetTable(
        spark, tempfile.mkdtemp(prefix="atomic_bkt_"),
        keys=["o_orderkey"], bucket_by=16,
    )
    t.upsert(b1, [F.col("batch").desc()])
    t.upsert(b2, [F.col("batch").desc()])
    t.delete_keys(o.filter(k % 17 == 0).select("o_orderkey"))
    assert t._manifest_light(t.current_version())["layout"] == {
        "bucket_keys": ["o_orderkey"], "n_buckets": 16,
        "key_types": ["bigint"],
    }, "bucketed churn must keep the layout claim"

    head = (
        t.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.lit("head").alias("section"),
            F.col("o_orderpriority").alias("grp"),
            "n_rows", "total",
        )
    )
    pk_row = t.read().agg(F.min("o_orderkey")).collect()[0][0]
    if pk_row is None:
        # empty source tables: the oracle yields zero rows too
        point = spark.createDataFrame(
            [], "section string, grp string, n_rows long, total double"
        )
        return head.unionByName(point)
    pk = int(pk_row)
    rep = t.skipping_report([("o_orderkey", "=", pk)])
    assert 0 < rep["files_kept"] < rep["files_total"], (
        "bucket prune must keep a strict subset of files"
    )
    point = t.read(where=[("o_orderkey", "=", pk)]).select(
        F.lit("point").alias("section"),
        F.col("o_orderkey").cast("string").alias("grp"),
        F.lit(1).cast("long").alias("n_rows"),
        F.round(F.col("o_totalprice"), 2).alias("total"),
    )
    return head.unionByName(point)
