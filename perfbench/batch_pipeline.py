"""batch_pipeline: the batch side, where the atomic sink is idle.

Curation (the registered ``pipeline_near_dedup``, ``text_quality_score``
and ``text_lang_id`` plans over a document corpus with planted
near-duplicates) and TPC-H-shaped ``analytics_*`` plans over generated
tables. One operation is one plan: its ``fn()`` call plus the action
that collects its result. The plans run in rounds of every plan once,
always in the same order. Every result is checked against the
plan's ``oracle_sql()`` entry run in DuckDB over the same files (row
count, columns and order-insensitive value hash).
"""

from __future__ import annotations

import functools
import os
import re
import time

import duckdb

import checks
import gen
from spans import p50
from tests.harness import TABLES

CURATION = ("pipeline_near_dedup", "text_quality_score", "text_lang_id")
# A fixed subset of the registered analytics_* plans, one per shape
# (three-way join + top-N, single-scan aggregate, aggregate + semi-join):
# all 21 take ~30 s cold and ~18 s warm per round on 4 cores, more than
# one run can hold next to the curation plans.
ANALYTICS = (
    "analytics_shipping_priority",
    "analytics_forecast_revenue",
    "analytics_large_orders",
)
# One round of the loop: every plan once, always in this order, curation
# and analytics alternating. The order is fixed because the engine keeps
# getting faster for minutes after set-up (most likely the JVM's JIT):
# a plan's latency depends on its place in the loop (see run.cycle_ms).
ORDER = (
    "pipeline_near_dedup", "analytics_shipping_priority", "text_quality_score",
    "analytics_forecast_revenue", "text_lang_id", "analytics_large_orders",
)
CYCLE = dict.fromkeys(ORDER, 1)


def materialized(sql: str) -> str:
    """``sql`` with every non-recursive CTE marked MATERIALIZED. DuckDB
    otherwise inlines each reference to a CTE, and the near-dedup oracle
    re-ran its whole MinHash chain per reference (about a minute per
    check here instead of about two seconds); the rows are the same."""
    out, last = [], 0
    for m in re.finditer(r"\b(\w+) AS \(", sql):
        depth, i = 1, m.end()
        while depth and i < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        if re.search(rf"\b{m.group(1)}\b", sql[m.end():i]):
            continue  # recursive: must stay a plain CTE
        out.append(sql[last:m.start()] + f"{m.group(1)} AS MATERIALIZED (")
        last = m.end()
    return "".join(out) + sql[last:]


def setup(ctx) -> dict:
    from stupp_exclusion_etl_spark.plans import REGISTRY

    sf = ctx.work / "sf"
    sf.mkdir()
    ctx.props.update(gen.tpch_tables(ctx.seed, str(sf)))
    ctx.props.update(gen.documents(ctx.seed, str(sf)))
    state = {"sf": str(sf), "registry": REGISTRY, "results": [], "lat": {}, "rounds": 0}
    # warm-up: one cold pass over every plan, results checked, not counted
    state["warm"] = [(name, checks.frame_digest(_run_plan(ctx, state, name)))
                     for name in ORDER]
    state["lat"].clear()
    return state


def _run_plan(ctx, state, name: str):
    """One plan: its fn() call and the action collecting its result."""
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("plans", f"{name}.build"):
        df = state["registry"][name].fn(ctx.spark, state["sf"])
    with tr.span("plans", f"{name}.exec"):
        out = df.toPandas()
    state["lat"].setdefault(name, []).append(time.perf_counter() - t0)
    return out


def _traced_stages(ctx, state) -> None:
    """The curation plans' stages run one by one and forced, so their
    operators get spans of their own (traced run only)."""
    from pyspark.sql import functions as F

    from stupp_exclusion_etl_spark.catalog import table
    from stupp_exclusion_etl_spark.functions.text import lang_id, quality_score, tokens
    from stupp_exclusion_etl_spark.operators.dedup import (
        connected_components_star,
        minhash_lsh_pairs,
    )
    from stupp_exclusion_etl_spark.plans.dedup import dedup_lsh_verified

    tr, spark, sf = ctx.tracer, ctx.spark, state["sf"]
    docs = table(spark, sf, "documents")
    with tr.span("operators.dedup", "candidates"):
        n_cand = minhash_lsh_pairs(docs, "doc_id", "text", n_hashes=12, band_size=3,
                                   shingle_k=3).count()
    with tr.span("plans", "dedup.verify"):
        verified = dedup_lsh_verified(spark, sf).select("id1", "id2").persist()
        n_ver = verified.count()
    with tr.span("operators.dedup", "components"):
        tr.force("operators.dedup", "components_out", connected_components_star(verified))
    verified.unpersist()
    tr.force("functions.text", "score", docs.select(
        "doc_id", quality_score(F.col("text")).alias("q"),
        lang_id(tokens(F.col("text"))).alias("lang")))
    state.setdefault("dedup_counts", []).append((n_cand, n_ver))


def loop(ctx, state) -> None:
    """One operation is one plan; the plans run in rounds of ``ORDER``,
    so every run measures the same mix and the first round always runs
    whole."""
    n = 0
    while ctx.running(len(ORDER)):
        if n % len(ORDER) == 0:
            if ctx.tracer.enabled:
                _traced_stages(ctx, state)
            state["rounds"] += 1
        name = ORDER[n % len(ORDER)]
        n += 1
        frame = ctx.op(name, functools.partial(_run_plan, ctx, state, name))
        with ctx.aside():
            # hashed outside the timed operation; checked after the loop
            state["results"].append(None if frame is None else checks.frame_digest(frame))


def finish(ctx, state) -> None:
    reg = state["registry"]
    con = duckdb.connect()
    try:
        # the generated directory holds only the tables these plans read
        for t in TABLES:
            if not os.path.exists(f"{state['sf']}/{t}.parquet"):
                continue
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{state['sf']}/{t}.parquet')")
        want = {name: checks.frame_digest(con.execute(materialized(reg[name].oracle)).fetchdf())
                for name in ORDER}
    finally:
        con.close()
    for name, got in state["warm"]:
        problems = checks.compare_digests(got, want[name])
        if problems:
            ctx.problems.append(f"warm-up {name}: {problems}")
    for op, got in zip(ctx.ops, state["results"]):
        if got is None:
            continue  # the plan raised: already failed
        problems = checks.compare_digests(got, want[op[0]])
        if problems:
            op[2] = False
            ctx.problems.append(f"{op[0]}: {problems}")
    lat = state["lat"]
    n_docs = ctx.props["documents"]
    runs = min(len(lat.get(n, [])) for n in CURATION)
    cur = [sum(lat[n][r] for n in CURATION) for r in range(runs)]
    ana = [v for n in ANALYTICS for v in lat.get(n, [])]
    m = ctx.metrics
    if cur:
        m["curation_docs_per_s"] = (n_docs / p50(cur), "docs/s")
    if ana:
        m["analytics_queries_per_min"] = (60.0 * len(ana) / sum(ana), "queries/min")
    ctx.props.update({"rounds": state["rounds"],
                      "plan_p50_ms": {n: round(1000 * p50(v), 1) for n, v in lat.items()}})
    if ctx.tracer.enabled:
        _per_layer(ctx, state)


def _per_layer(ctx, state) -> None:
    by, L = ctx.tracer.by_name(), ctx.layer

    def ms(name: str) -> float:
        d = by.get(name)
        return 1000 * d["self_s"] / d["calls"] if d else 0.0

    L["operators.dedup.candidates_ms"] = (ms("operators.dedup.candidates"), "ms")
    L["plans.dedup.verify_ms"] = (ms("plans.dedup.verify"), "ms")
    comp = [by.get(n) for n in ("operators.dedup.components",
                                "operators.dedup.components_out")]
    calls = max((d["calls"] for d in comp if d), default=0)
    if calls:
        L["operators.dedup.components_ms"] = (
            1000 * sum(d["self_s"] for d in comp if d) / calls, "ms")
        L["operators.dedup.components_jobs"] = (
            sum(d["jobs"] for d in comp if d) / calls, "count")
    counts = state.get("dedup_counts", [])
    cand = sum(c for c, _ in counts)
    L["operators.dedup.verified_ratio"] = (
        sum(v for _, v in counts) / cand if cand else 0.0, "ratio")
    L["functions.text.score_ms"] = (ms("functions.text.score"), "ms")
    build = exec_ = jobs = 0.0
    per_query = {}
    for name in ANALYTICS:
        b, e = by.get(f"plans.{name}.build"), by.get(f"plans.{name}.exec")
        if b and e:
            build += 1000 * b["self_s"]
            exec_ += 1000 * e["self_s"]
            jobs += b["jobs"] + e["jobs"]
            per_query[name] = {"build_ms": 1000 * b["self_s"] / b["calls"],
                               "exec_ms": 1000 * e["self_s"] / e["calls"],
                               "jobs": (b["jobs"] + e["jobs"]) / b["calls"]}
    L["plans.analytics.build_ms"] = (build, "ms")
    L["plans.analytics.exec_ms"] = (exec_, "ms")
    L["plans.analytics.jobs"] = (jobs, "count")
    ctx.props["analytics_per_query"] = per_query
