"""The similarity operators' two placements (operators/similarity.py over
the ann_index kernel): the driver placement (one toArrow, a
LocalRelation) and the task placement (Arrow tasks merged by a
per-query window) give the rows a plain-Python reference gives. The
byte budget is forced with monkeypatch, so each test runs both
placements on the same input. The fixture holds the vectors the kernel
must agree with Spark on: zero, NULL, ragged, NULL-element and
NaN-element vectors, and exact score ties."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.operators import budget, recall
from stupp_exclusion_etl_spark.operators import similarity as sim

DIM = 4


def _vectors():
    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=DIM).astype(np.float32).tolist()) for i in range(10, 70)]
    rows += [
        (1, [1.0, 0.0, 0.0, 1.0]),
        (2, [0.0] * DIM),                  # zero vector
        (3, None),                         # NULL embedding
        (4, [1.0, 2.0]),                   # ragged
        (5, [1.0, None, 0.0, 1.0]),        # NULL element
        (6, [float("nan"), 1.0, 1.0, 1.0]),  # NaN element
        (7, [2.0, 0.0, 0.0, 2.0]),         # ties 1 after round(6)
        (8, [3.0, 0.0, 0.0, 3.0]),
    ]
    return rows


ROWS = _vectors()
QUERY = [1.0, 0.25, -0.5, 0.75]


def _both(monkeypatch, build, lazy=True):
    """(driver rows, task rows) of the frame ``build()``, in order; a
    ``lazy`` operator's task placement shows in its plan. The driver
    budget is set above Spark's default size estimate of an RDD input
    (Long.MaxValue per leaf)."""
    out = []
    for cap, tasks in ((1 << 70, False), (-1, True)):
        monkeypatch.setattr(budget, "_DRIVER_DEDUP_BYTES", cap)
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert ("MapInArrow" in plan) == (tasks and lazy), plan
        out.append([tuple(r) for r in df.collect()])
    return out


# -- plain-Python reference ---------------------------------------------------


def _dot(a, b):
    """Spark's zip_with dot: NULL for a NULL, ragged or NULL-element
    side, else summed left to right from 0.0."""
    if a is None or b is None or len(a) != len(b) or None in a or None in b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _cos(a, b):
    d = _dot(a, b)
    if d is None:
        return None
    den = math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b))
    return None if den == 0 else d / den


def _r6(x):
    """Spark's round(x, 6): BigDecimal.valueOf(x) HALF_UP."""
    if x is None or not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP)) + 0.0


def _order(score, ident):
    """score DESC NULLS LAST with NaN first, then id ASC."""
    if score is None:
        return (2, 0.0, ident)
    if math.isnan(score):
        return (0, 0.0, ident)
    return (1, -score, ident)


def _ranked(pairs, k):
    """pairs: (id, unrounded score) -> top k (id, round6 score)."""
    got = [(i, _r6(s)) for i, s in pairs]
    return sorted(got, key=lambda p: _order(p[1], p[0]))[:k]


def _bucket(vec, planes):
    return sum(1 << p for p, pl in enumerate(planes)
               if (_dot(vec, pl) or 0.0) > 0)


def _probes(bucket, n_planes, radius):
    masks = [0] + [1 << p for p in range(n_planes)] * (radius >= 1)
    if radius >= 2:
        masks += [(1 << p) | (1 << r) for p in range(n_planes)
                  for r in range(p + 1, n_planes)]
    return {bucket ^ m for m in masks}


def _same(got, want):
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(b, float) and math.isnan(b):
                assert isinstance(a, float) and math.isnan(a), (got, want)
            else:
                assert a == b, (got, want)


# -- fixtures -----------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(ROWS, "vec_id long, embedding array<float>").repartition(3)


@pytest.fixture(scope="module")
def query(spark):
    return spark.createDataFrame([(QUERY,)], "q array<float>")


def _f32(v):
    return None if v is None else [
        None if x is None else float(np.float32(x)) for x in v
    ]


ROWS32 = [(i, _f32(v)) for i, v in ROWS]


# -- exhaustive scoring -------------------------------------------------------


@pytest.mark.parametrize("k", [10, 100])
def test_brute_force_placements_match_reference(monkeypatch, vecs, query, k):
    driver, tasks = _both(monkeypatch, lambda: sim.brute_force_topk(vecs, query, k=k))
    want = _ranked([(i, _cos(v, QUERY)) for i, v in ROWS32], k)
    _same(driver, want)
    _same(tasks, want)
    assert driver[0][0] == 6 and math.isnan(driver[0][1])  # NaN ranks first
    tied = [r for r in driver if r[0] in (1, 7, 8)]  # one score, id order
    assert [r[0] for r in tied] == [1, 7, 8] and len({r[1] for r in tied}) == 1
    if k == 100:  # k above the row count: every row, NULLs last
        assert len(driver) == len(ROWS)
        assert {r[0] for r in driver if r[1] is None} == {2, 3, 4, 5}


def test_mips_placements_match_reference(monkeypatch, vecs, query):
    driver, tasks = _both(monkeypatch, lambda: sim.mips_topk(vecs, query, k=100))
    want = _ranked([(i, _dot(v, QUERY)) for i, v in ROWS32], 100)
    _same(driver, want)
    _same(tasks, want)
    assert dict(driver)[2] == 0.0  # the zero vector scores 0, not NULL


def test_string_ids_and_empty_candidates(spark, monkeypatch, query):
    rows = [("b", [1.0, 0.0, 0.0, 1.0]), ("a", [2.0, 0.0, 0.0, 2.0]),
            ("é", [1.0, 0.0, 0.0, 1.0]), ("Z", [1.0, 0.0, 0.0, 1.0]),
            ("c", [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    driver, tasks = _both(monkeypatch, lambda: sim.brute_force_topk(df, query, k=3))
    assert driver == tasks == [("Z", driver[0][1]), ("a", driver[0][1]),
                               ("b", driver[0][1])]
    empty = df.filter(F.col("vec_id") == "none")
    assert _both(monkeypatch, lambda: sim.brute_force_topk(empty, query)) == [[], []]


# -- routed scoring -----------------------------------------------------------


@pytest.mark.parametrize("radius", [0, 2])
def test_lsh_placements_match_reference(monkeypatch, vecs, query, radius):
    n_planes = 3
    planes = recall.planes_matrix(DIM, n_planes).tolist()
    probed = _probes(_bucket(_f32(QUERY), planes), n_planes, radius)
    driver, tasks = _both(monkeypatch, lambda: sim.ann_topk_lsh(
        vecs, query, dim=DIM, k=20, n_planes=n_planes, multi_probe=radius))
    want = _ranked([(i, _cos(v, QUERY)) for i, v in ROWS32
                    if _bucket(v, planes) in probed], 20)
    _same(driver, want)
    _same(tasks, want)


def test_ivf_and_mean_centroids_placements_match_reference(spark, monkeypatch, query):
    rows = [(i, v, None if i == 10 else i % 3) for i, v in ROWS]
    # contiguous slices over several partitions: the driver's one read
    # keeps the rows in list order
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell int")

    cells = {}
    for _i, v, c in rows:
        if v is not None:
            cells.setdefault(c, []).append(_f32(v))
    want_cents = {}
    for c, vs in cells.items():
        width = max(len(v) for v in vs)
        mean = []
        for p in range(width):
            xs = [v[p] for v in vs if len(v) > p and v[p] is not None]
            acc = 0.0
            for x in xs:
                acc += x
            mean.append(acc / len(xs) if xs else None)
        want_cents[c] = mean

    driver, tasks = _both(monkeypatch, lambda: sim.mean_centroids(df), lazy=False)
    # the driver sums in row order as Spark's avg does; the task placement
    # merges per-partition partial sums, exact up to their order
    assert dict(driver).keys() == dict(tasks).keys() == want_cents.keys()
    for c, cent in driver:
        _same([tuple(cent)], [tuple(want_cents[c])])
    for c, cent in tasks:
        assert np.allclose(np.array(cent, float), want_cents[c], equal_nan=True)

    monkeypatch.setattr(budget, "_DRIVER_DEDUP_BYTES", 1 << 70)
    cent = spark.createDataFrame(
        sorted(driver, key=lambda r: (r[0] is not None, r[0])),
        "cell int, centroid array<double>",
    )
    routed = sorted(want_cents, key=lambda c: (
        _order(_cos(want_cents[c], _f32(QUERY)), (c is not None, c))))[:2]
    driver, tasks = _both(monkeypatch, lambda: sim.ivf_topk(df, cent, query, k=5, n_probe=2))
    want = _ranked([(i, _cos(_f32(v), _f32(QUERY))) for i, v, c in rows
                    if c is not None and c in routed], 5)
    _same(driver, want)
    _same(tasks, want)


def _knn_reference(queries, k, exclude_self, cand=None):
    out = []
    for qid, qv in queries:
        pairs = [(i, _cos(v, qv)) for i, v in ROWS32
                 if (cand is None or i in cand(qv))
                 and not (exclude_self and i == qid)]
        out += [(qid, i, s, r + 1) for r, (i, s) in enumerate(_ranked(pairs, k))]
    return out


@pytest.mark.parametrize("exclude_self", [False, True])
def test_knn_join_placements_match_reference(spark, monkeypatch, vecs, exclude_self):
    queries = [(i, v) for i, v in ROWS32 if i in (1, 2, 6, 10, 11, 12)]
    qdf = spark.createDataFrame(queries, "q_id long, q array<float>")
    driver, tasks = _both(monkeypatch, lambda: sim.knn_join(
        vecs, qdf, k=4, exclude_self=exclude_self))
    want = _knn_reference(queries, 4, exclude_self)
    _same(sorted(driver), sorted(want))
    _same(tasks, driver)
    assert all(r[0] != r[1] for r in driver) == exclude_self


def test_knn_join_multi_table_lsh_candidates(spark, monkeypatch, vecs):
    """Over budget the candidates of a query are its probed buckets
    across all tables, each (query, row) pair once."""
    cfg = {"n_planes": 3, "radius": 1, "n_tables": 2, "recall_est": 1.0}
    monkeypatch.setattr(recall, "choose_knn_config", lambda *a, **kw: dict(cfg))
    queries = [(i, v) for i, v in ROWS32 if i in (1, 10, 11, 12)]
    qdf = spark.createDataFrame(queries, "q_id long, q array<float>")
    tables = [recall.planes_matrix(DIM, 3, offset=3 * t).tolist() for t in range(2)]

    def cand(qv):
        return {i for i, v in ROWS32
                if any(_bucket(v, pl) in _probes(_bucket(qv, pl), 3, 1) for pl in tables)}

    driver, tasks = _both(monkeypatch, lambda: sim.knn_join(
        vecs, qdf, k=30, exclude_self=True, max_comparisons=10,
        on_exceed="lsh", dim=DIM))
    want = _knn_reference(queries, 30, True, cand)
    _same(sorted(driver), sorted(want))
    _same(tasks, driver)
    assert recall.last_reroute_info("knn_join")["n_tables"] == 2


def test_pq_adc_placements_match_reference(spark, monkeypatch, vecs):
    book = [[[1.0, 0.0], [0.0, 1.0], [0.5, 0.5]], [[1.0, 1.0], [-1.0, 0.0], [0.0, 0.0]]]
    codes = sim.pq_encode_arrow(vecs, book).collect()
    ok = {i for i, v in ROWS if v is not None and len(v) == DIM}
    assert {r.vec_id for r in codes} == ok  # NULL and ragged rows have no code
    qv = [0.5, -1.0, 2.0, 0.25]
    lut = [[sum(qv[s * 2 + i] * c[i] for i in range(2)) for c in book[s]] for s in range(2)]
    want = _ranked([(r.vec_id, 0.0 + lut[0][r.codes[0]] + lut[1][r.codes[1]])
                    for r in codes], 7)
    cdf = spark.createDataFrame(codes).repartition(2)
    driver, tasks = _both(monkeypatch, lambda: sim.pq_adc_topk(cdf, book, qv, k=7))
    _same(driver, want)
    _same(tasks, want)
