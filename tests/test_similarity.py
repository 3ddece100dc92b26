"""ANN recall checks: the approximate paths (LSH bucket probe, IVF
cell probe) are rows-only for the driver, so their quality gate lives
here — recall@10 against the exact brute-force baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.catalog import table
from stupp_exclusion_etl_spark.operators.similarity import (
    ann_topk_lsh,
    brute_force_topk,
    lsh_assign_buckets,
)
from stupp_exclusion_etl_spark.plans.registry import REGISTRY

from tests.conftest import SF_SMALL

K = 10


def _exact_ids(spark) -> set[int]:
    e = table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    top = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=K)
    return {r.vec_id for r in top.collect()}


def test_lsh_recall_vs_brute_force(spark):
    e = table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    approx = ann_topk_lsh(e.filter(F.col("vec_id") != 0), q, dim=64, k=K, n_planes=4)
    got = {r.vec_id for r in approx.collect()}
    recall = len(got & _exact_ids(spark)) / K
    assert recall >= 0.5, f"LSH recall@{K} too low: {recall}"


def test_ivf_recall_vs_brute_force(spark):
    got = {r.vec_id for r in REGISTRY["sim_ivf_topk"].fn(spark, SF_SMALL).collect()}
    recall = len(got & _exact_ids(spark)) / K
    assert recall >= 0.5, f"IVF recall@{K} too low: {recall}"


def test_lsh_buckets_deterministic_and_bounded(spark):
    e = table(spark, SF_SMALL, "embeddings").limit(50)
    b1 = lsh_assign_buckets(e, "embedding", dim=64, n_planes=4)
    rows = {r.vec_id: r.lsh_bucket for r in b1.collect()}
    rows2 = {r.vec_id: r.lsh_bucket for r in b1.collect()}
    assert rows == rows2
    assert all(0 <= b < 16 for b in rows.values())


def test_ivf_kmeans_recall(spark):
    """IVF over LEARNED k-means cells must beat the label-standin floor
    — real cells concentrate neighbors, so probing 4 of 10 cells keeps
    most of the true top-10."""
    from stupp_exclusion_etl_spark.operators.similarity import (
        ivf_kmeans_cells,
        ivf_topk,
    )

    e = table(spark, SF_SMALL, "embeddings")
    assigned, cents = ivf_kmeans_cells(e.filter(F.col("vec_id") != 0), k=10)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    got = {r.vec_id for r in ivf_topk(assigned, cents, q, k=K, n_probe=4).collect()}
    recall = len(got & _exact_ids(spark)) / K
    assert recall >= 0.6, f"k-means IVF recall@{K}: {recall}"


def test_ivf_partition_pruning_end_to_end(spark, tmp_path):
    """The 100 TB IVF claim, asserted on the physical scan: embeddings
    written partitioned by cell, probe cells pushed as literals → the
    scan reads ONLY the probed partitions (inputFiles + PartitionFilters),
    and the pruned search returns exactly the unpartitioned result."""
    from stupp_exclusion_etl_spark.operators.similarity import (
        _probe_cells,
        ivf_topk,
        mean_centroids,
    )

    e = table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "emb_by_cell")
    e.withColumn("cell", F.col("label")).write.partitionBy("cell").parquet(path)

    cent = mean_centroids(e, cell_col="label")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    cells = _probe_cells(cent, q.toArrow().column("q"), 2)[0].to_pylist()
    assert len(cells) == 2

    part = spark.read.parquet(path)
    n_cells = part.select("cell").distinct().count()
    assert n_cells > 2  # pruning must have something to prune
    pruned = part.filter(F.col("cell").isin(cells) & (F.col("vec_id") != 0))

    # 1) static pruning: only probed partitions' files are read at
    # execution (input_file_name reflects the pruned scan; DataFrame
    # .inputFiles() ignores filters so it can't observe pruning)
    files = [r.f for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()]
    assert files, "pruned scan read no files"
    assert all(any(f"cell={c}/" in f for c in cells) for f in files), files
    assert len(files) < len(part.inputFiles())
    # 2) the filter is a PartitionFilter on the scan, not a post-scan filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]

    # 3) same answer as the unpartitioned two-stage search
    vectors = e.filter(F.col("vec_id") != 0).withColumn("cell", F.col("label"))
    expect = ivf_topk(vectors, cent, q, k=K, n_probe=2).collect()
    got = (
        pruned.crossJoin(F.broadcast(q.withColumn("__qn", F.expr(
            "sqrt(aggregate(q, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double)))"
        ))))
        .select(
            "vec_id",
            F.round(
                F.expr(
                    "aggregate(zip_with(embedding, q, (x, y) -> cast(x as double) * cast(y as double)), "
                    "cast(0.0 as double), (a, x) -> a + x) / "
                    "(sqrt(aggregate(embedding, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double))) * __qn)"
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(K)
        .collect()
    )
    assert [(r.vec_id, r.cos_sim) for r in got] == [(r.vec_id, r.cos_sim) for r in expect]


def test_pq_kmeans_recall_and_plan(spark):
    """Learned-codebook PQ: (a) ADC top-10 must land mostly inside the
    exact top-20 (quality gate — near-random vectors are PQ's worst
    case, so the bar is overlap with a modest exact window, not exact
    top-10 recall); (b) the ADC serving plan must be shuffle-free —
    encode + LUT scoring are map-only projections feeding
    TakeOrderedAndProject, never an Exchange."""
    from stupp_exclusion_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode_arrow,
        pq_kmeans_codebook,
    )

    e = table(spark, SF_SMALL, "embeddings")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    rest = e.filter(F.col("vec_id") != 0)
    exact20 = {
        r.vec_id for r in brute_force_topk(rest, q, k=2 * K).collect()
    }
    book = pq_kmeans_codebook(e, m=8, k=16)
    top = pq_adc_topk(pq_encode_arrow(rest, book), book, qv, k=K)
    got = {r.vec_id for r in top.collect()}
    overlap = len(got & exact20)
    assert overlap >= K // 2, f"PQ ADC top-{K} ∩ exact top-{2*K} = {overlap}"

    from tests.harness import plan_str

    plan = plan_str(top)
    assert "Exchange" not in plan, f"PQ ADC plan shuffles:\n{plan}"


def test_zero_vector_ranks_last_not_crash(spark):
    """A zero (all-zeros padding) vector must not kill cosine queries
    with ANSI DIVIDE_BY_ZERO: it scores NULL, sorts last under desc
    ordering, and never enters near-dup pairs; MIPS scores it 0."""
    from stupp_exclusion_etl_spark.operators.dedup import embedding_neardup_pairs
    from stupp_exclusion_etl_spark.operators.similarity import mips_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 1.0], 1), (1, [1.0, 0.1, 0.0, 0.9], 1),
        (2, [0.0, 0.0, 0.0, 0.0], 1), (3, [-1.0, 0.0, 0.0, -1.0], 1),
        (4, [0.5, 0.5, 0.5, 0.5], 1),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    cos = brute_force_topk(e.filter(F.col("vec_id") != 0), q, k=4).collect()
    assert [r.vec_id for r in cos] == [1, 4, 3, 2]  # zero vec last
    assert cos[-1].cos_sim is None
    ip = {r.vec_id: r.ip for r in mips_topk(e.filter(F.col("vec_id") != 0), q, k=4).collect()}
    assert ip[2] == 0.0
    pairs = embedding_neardup_pairs(e, "vec_id", "embedding", F.col("label"), 0.5).collect()
    assert all(2 not in (p.id1, p.id2) for p in pairs)


def _assert_codes_match_oracle(spark, e, con):
    """The kernel's codes of every vec_id != 0 row of ``e`` equal the
    DuckDB oracle's ``codes`` CTE over ``con``'s ``embeddings``."""
    from stupp_exclusion_etl_spark.operators.similarity import (
        pq_encode_arrow,
        pq_seed_codebook,
    )
    from stupp_exclusion_etl_spark.plans.similarity import _pq_oracle

    book = pq_seed_codebook(e, m=8, k=16)
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode_arrow(e.filter(F.col("vec_id") != 0), book).collect()
    }
    sql = _pq_oracle()
    sql = sql[: sql.rindex("SELECT vec_id, ROUND(")] + (
        "SELECT vec_id, list(c ORDER BY s) AS codes FROM codes GROUP BY vec_id"
    )
    want = {int(v): [int(c) for c in cs] for v, cs in con.execute(sql).fetchall()}
    assert got == want
    assert len(got) == e.filter(F.col("vec_id") != 0).count()
    return got


def test_pq_codes_match_oracle_codes_per_row(spark):
    """The kernel encoder reproduces the DuckDB oracle's ``codes`` CTE
    (plans.similarity._pq_oracle) code for code, row by row: the fold
    order is engineered to match (left-to-right sums, the same ||c||²
    chains, first-min tie-break), so any drift is a bug, not
    tolerance."""
    from tests.harness import duck_con

    con = duck_con(SF_SMALL)
    _assert_codes_match_oracle(spark, table(spark, SF_SMALL, "embeddings"), con)
    con.close()


def test_pq_codes_nan_seed_match_oracle(spark, tmp_path):
    """A NaN in centroid 0's seed row makes that centroid's distance
    NaN in subspace 0 for every row: NaN ranks after every number in
    the oracle's ``ORDER BY d2, c``, so a row takes its nearest other
    centroid there, and the seed row itself (all distances NaN) takes
    code 0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/embeddings.parquet").slice(0, 120)
    emb = t.column("embedding").to_pylist()
    ids = t.column("vec_id").to_pylist()
    emb[ids.index(1)][0] = float("nan")
    t = t.set_column(
        t.schema.get_field_index("embedding"), "embedding",
        pa.array(emb, t.schema.field("embedding").type),
    )
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(t, path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    got = _assert_codes_match_oracle(spark, spark.read.parquet(path), con)
    con.close()
    assert got[1][0] == 0
    assert any(codes[0] != 0 for codes in got.values())


def test_recall_estimator_planes_bit_identical_to_spark(spark):
    """VERDICT r9 task #7: the recall estimator's correctness rests on
    operators.recall.planes_matrix being BIT-identical to
    operators.similarity.hyperplane — a refactor of either silently
    breaks estimation (the ±0.15 gates would catch it only
    statistically). Assert direct bucket equality: 100 deterministic
    vectors bucketed by Spark's lsh_assign_buckets vs numpy
    bucket_bits, across two (n_planes, offset) table configs."""
    import numpy as np

    from stupp_exclusion_etl_spark.operators import recall as rc

    rng = np.random.default_rng(7)
    dim = 16
    vecs = rng.standard_normal((100, dim))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for n_planes, offset in ((8, 0), (6, 12)):
        got = {
            r.vec_id: r.lsh_bucket
            for r in lsh_assign_buckets(
                df, "embedding", dim, n_planes, plane_offset=offset
            ).collect()
        }
        planes = rc.planes_matrix(dim, n_planes, offset=offset)
        bits = rc.bucket_bits(vecs, planes)
        want = {
            i: int(sum(1 << p for p in range(n_planes) if bits[i, p]))
            for i in range(100)
        }
        assert got == want, (n_planes, offset)
