"""The near-dedup kernel's two placements (operators/dedup.py): the
driver placement (one collect, a LocalRelation) and the task placement
(mapInArrow tasks, one band exchange, per-partition union-find then
star contraction) give identical rows. The byte budget is forced with
monkeypatch, so each test runs both placements on the same input."""

from __future__ import annotations

import pytest

from stupp_exclusion_etl_spark.catalog import table
from stupp_exclusion_etl_spark.operators import budget, dedup
from tests.conftest import SF_SMALL


def _both(monkeypatch, build):
    """(rows on the driver, rows in tasks) of the frame ``build()``."""
    out = []
    for cap in (1 << 62, -1):
        monkeypatch.setattr(budget, "_DRIVER_DEDUP_BYTES", cap)
        out.append(sorted(map(tuple, build().collect()), key=repr))
    return out


def _union_find_reference(edges) -> dict:
    """Plain-Python reference: node -> min node of its component, for
    every node of a non-loop edge."""
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        stack = [start]
        while stack:
            x = stack.pop()
            if x not in label:
                label[x] = start
                stack.extend(adj[x])
    return label


@pytest.fixture(scope="module")
def docs(spark):
    return table(spark, SF_SMALL, "documents")


@pytest.fixture(scope="module")
def skewed(spark):
    """120 identical documents (one bucket in every band) and 5
    unrelated ones, as tests/test_cost_guards.py builds them."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(120)]
    rows += [(1000 + i, f"totally unrelated text number {i} with words "
              f"alpha beta gamma delta {i}") for i in range(5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("max_bucket", [None, 100])
def test_lsh_pairs_placements_agree(monkeypatch, skewed, max_bucket):
    driver, tasks = _both(monkeypatch, lambda: dedup.minhash_lsh_pairs(
        skewed, "doc_id", "text", n_hashes=12, band_size=3,
        max_bucket=max_bucket,
    ))
    assert driver == tasks
    giant = [p for p in driver if p[1] < 1000]
    assert len(giant) == (120 * 119 // 2 if max_bucket is None else 0)


def test_lsh_pairs_placements_agree_on_documents(monkeypatch, docs):
    driver, tasks = _both(monkeypatch, lambda: dedup.minhash_lsh_pairs(
        docs, "doc_id", "text"))
    assert driver == tasks


def test_signatures_placements_agree(monkeypatch, docs):
    driver, tasks = _both(monkeypatch, lambda: dedup.minhash_signatures(
        docs, "doc_id", "text"))
    assert driver == tasks and len(driver) > 0


def test_verified_pairs_placements_agree(spark, monkeypatch):
    from stupp_exclusion_etl_spark.plans.dedup import dedup_lsh_verified

    driver, tasks = _both(monkeypatch, lambda: dedup_lsh_verified(spark, SF_SMALL))
    assert driver == tasks


def test_survivors_placements_agree(spark, monkeypatch):
    """pipeline_near_dedup gives the same rows in tasks as on the driver
    (whose rows tests/test_oracle_differential.py checks against the
    DuckDB oracle)."""
    from stupp_exclusion_etl_spark.plans.dedup import pipeline_near_dedup

    driver, tasks = _both(monkeypatch, lambda: pipeline_near_dedup(spark, SF_SMALL))
    assert driver == tasks
    assert {r[2] for r in driver} != {1}, "some cluster has several members"


def test_duplicate_and_null_ids_pool_like_spark(spark, monkeypatch):
    """Rows of one id pool their shingles (the Spark group-by did);
    NULL ids and texts without a token take no part."""
    rows = [(1, "a b c d e f g"), (1, "f g h"), (2, "a b c d e f g h"),
            (None, "a b c d e f g h"), (3, None), (4, " \t ")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    driver, tasks = _both(monkeypatch, lambda: dedup.near_dedup(
        d, "doc_id", "text", "verified"))
    assert driver == tasks == [(1, 2, 6, 6, 6)]
    driver, tasks = _both(monkeypatch, lambda: dedup.near_dedup(
        d, "doc_id", "text", "survivors"))
    assert driver == tasks
    assert driver == sorted(
        [(1, 1, 2), (1, 1, 2), (None, None, 1), (3, 3, 1), (4, 4, 1)], key=repr
    )


def _graphs():
    import random

    random.seed(23)
    blob = [(500 + random.randrange(40), 500 + random.randrange(40))
            for _ in range(80)]
    return {
        "hub": [(7, 1000 + k) for k in range(200)],
        "chain": [(i, i + 1) for i in range(50)],
        "self_loops": [(7, 7), (8, 8), (7, 8), (9, 9)],
        "mixed": [(i, i + 1) for i in range(100, 109)]
        + [(200, 200 + k) for k in range(1, 61)]
        + [(300, 301), (301, 302), (300, 302), (400, 401)] + blob,
        "empty": [],
    }


@pytest.mark.parametrize("graph", sorted(_graphs()))
def test_components_placements_match_union_find_reference(spark, monkeypatch, graph):
    edges = _graphs()[graph]
    pairs = spark.createDataFrame(edges, "id1 long, id2 long").repartition(3)
    driver, tasks = _both(monkeypatch, lambda: dedup.connected_components_star(pairs))
    want = sorted(_union_find_reference(edges).items(), key=repr)
    assert driver == tasks == want


def test_components_placements_agree_on_documents(spark, monkeypatch, docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", max_bucket=None)
    driver, tasks = _both(monkeypatch, lambda: dedup.connected_components_star(pairs))
    assert driver == tasks
    assert driver == sorted(
        _union_find_reference(map(tuple, pairs.collect())).items(), key=repr
    )
