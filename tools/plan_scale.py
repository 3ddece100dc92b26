#!/usr/bin/env python
"""At-scale AQE plan pinning (VERDICT r9 next-round task #2).

tests/plan_snapshots.json freezes every registered query's COMPILED
plan at sf0.001 — but AQE re-plans at runtime, and plan shape is
scale- and deployment-sensitive: the r9 probe-hint OOM was exactly a
plan that was fine at sf0.1 and deadly at sf10. This module captures
the FINAL adaptive plans (isFinalPlan=true, after execution) of the
12-query heavy set at sf1 plus two scale-only scenarios the sf0.001
snapshots cannot see, normalizes them with the same shape rules as
the compile-time guard, and pins them in
tests/plan_snapshots_scale.json:

- ``aqe_skew_probe`` — the unsalted hot-key join over the zipf
  fixture: the final plan MUST carry ``skew=true`` (AQE skew-join
  split engaged).
- ``atomic_above_cap_probe`` — a key-probe semi-join whose batch side
  exceeds the 1M-key broadcast cap: the plan MUST NOT broadcast (the
  exact shape that OOM'd 8 GiB executors at sf10 before the cap).

A broadcast→SMJ flip, a lost exchange, or a skew-split regression at
scale now fails a test instead of surfacing as a bench anomaly.
Regenerate after intentional plan changes:

    python tools/plan_scale.py && git diff tests/plan_snapshots_scale.json
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tests.plan_guard import normalize  # noqa: E402

SF1 = "/tmp/scaled/sf1"
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SKEW_DIR = "/tmp/skew/sf0.1"
SNAPSHOT_PATH = os.path.join(REPO, "tests", "plan_snapshots_scale.json")

#: the heavy set whose final adaptive plans are pinned at sf1
HEAVY = [
    "pipeline_near_dedup",
    "dedup_groups_cc",
    "dedup_groups_cc_star",
    "dedup_minhash_lsh",
    "graph_pagerank",
    "text_lang_id_learned",
    "join_fk_chain",
    "upsert_keep_latest",
    "atomic_upsert_read",
    "atomic_merge_read",
    "dedup_embedding_cosine",
    "sim_knn_join",
    # r12: the bucketed 1-exchange merge and the persisted-index
    # lifecycle, each a real multi-commit write workload at 15M keys /
    # 200k vectors over real executor JVMs
    "atomic_bucketed_merge",
    "sim_index_incremental",
    # r13: batched index-backed serving over the whole query stripe
    # and the token-window dup-span removal (the gram shuffle is the
    # 100 TB risk surface — N x token volume)
    "sim_index_batch_topk",
    "text_dup_span_removal",
    # r14: the iterative full-frame trainer (3 groupBy passes over
    # every document — the trajectory family's scale shape) and the
    # learn+apply tokenizer pipeline (one corpus pass to the vocab,
    # then vocab-bounded merge jobs — BPE's corpus-independence claim
    # gets empirical sf10 evidence)
    "ml_kmeans_doc_features",
    "ml_bpe_apply_tokenize",
]

#: row-at-a-time Python and cartesian products must never appear in a
#: FINAL adaptive plan either (the compile-time invariant, re-checked
#: after AQE re-planning)
FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

#: skew-detection confs for the skew probe — test-scale thresholds
#: (the defaults fire only at 100 TB).
#: AQE only SPLITS a skewed partition into chunks of at least
#: advisoryPartitionSizeInBytes, so the advisory size must sit WELL
#: below the hot partition's compressed shuffle bytes (~50-70 KB for
#: the zipf fixture's hot key) or the "split" yields one chunk and
#: never engages: at the former 32k advisory the decision sat on the
#: 2x-advisory boundary and flipped with byte-level compression drift
#: across machine-days (r14 continuation). 8k advisory / 16k
#: threshold give ~4x margin on both sides of every comparison.
_SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
    "spark.sql.files.maxPartitionBytes": "131072",
}


# Fact tables are written with small row groups: AQE splits a skewed
# reduce partition by MAP-OUTPUT RANGES, so a single-row-group file
# (= one effective mapper at this scale) can never be skew-split and
# OptimizeSkewedJoin silently declines. At 100 TB there are thousands
# of mappers and this is a non-issue; at 2.7 MB it was the whole
# reason the skew probe failed (found empirically this round).
ROW_GROUP = 10_000


def gen_skew(src: str, out: str) -> None:
    """Write a zipf-style skewed copy of ``src`` to ``out``: 20% of
    events go to user 0, 20% of orders to customer 1, and 20% of
    documents become one giant near-duplicate cluster (shared base
    text plus a per-doc tail)."""
    os.makedirs(out, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "embeddings"):
        pq.write_table(pq.read_table(f"{src}/{t}.parquet"),
                       f"{out}/{t}.parquet")

    ev = pq.read_table(f"{src}/events.parquet")
    eid = np.asarray(ev["event_id"].combine_chunks())
    uid = np.asarray(ev["user_id"].combine_chunks()).copy()
    uid[eid % 5 == 0] = 0  # hot user: 20% of all events
    ev = ev.set_column(ev.column_names.index("user_id"), "user_id",
                       pa.array(uid, type=ev["user_id"].type))
    pq.write_table(ev, f"{out}/events.parquet", row_group_size=ROW_GROUP)

    o = pq.read_table(f"{src}/orders.parquet")
    okey = np.asarray(o["o_orderkey"].combine_chunks())
    ckey = np.asarray(o["o_custkey"].combine_chunks()).copy()
    ckey[okey % 5 == 0] = 1  # hot customer: 20% of all orders
    o = o.set_column(o.column_names.index("o_custkey"), "o_custkey",
                     pa.array(ckey, type=o["o_custkey"].type))
    pq.write_table(o, f"{out}/orders.parquet", row_group_size=ROW_GROUP)

    d = pq.read_table(f"{src}/documents.parquet")
    ids = d["doc_id"].to_pylist()
    texts = d["text"].to_pylist()
    base = next(t for t in texts if t and len(t) > 200)
    new_texts = [
        f"{base} tail{i}" if (i % 5 == 0) else t
        for i, t in zip(ids, texts)
    ]
    d = d.set_column(d.column_names.index("text"), "text",
                     pa.array(new_texts, type=d["text"].type))
    n = [None if x is None else len(x) for x in new_texts]
    d = d.set_column(d.column_names.index("n_chars"), "n_chars",
                     pa.array(n, type=d["n_chars"].type))
    pq.write_table(d, f"{out}/documents.parquet", row_group_size=1000)


def final_adaptive_plan(df) -> str:
    """Execute the frame's OWN query execution to drive AQE to its
    final plan (count()/collect() would build a separate execution),
    then return the normalized shape of the FINAL section only."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    s = qe.executedPlan().toString()
    cut = s.find("== Initial Plan ==")
    if cut != -1:
        s = s[:cut]
    return normalize(s)


def _skew_probe_df(spark):
    from pyspark.sql import functions as F

    from stupp_exclusion_etl_spark.catalog import table

    o = table(spark, SKEW_DIR, "orders")
    c = table(spark, SKEW_DIR, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("tot"),
        )
    )


def scenario_aqe_skew_probe(spark) -> str:
    """Hot-key join final plan under skew-detection confs + no
    broadcast (forced SMJ so the skew machinery is on the hook)."""
    if not os.path.exists(os.path.join(SKEW_DIR, "orders.parquet")):
        gen_skew(SF01, SKEW_DIR)
    saved = {}
    conf = dict(_SKEW_CONF)
    conf["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    for k, v in conf.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        return final_adaptive_plan(_skew_probe_df(spark))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def scenario_atomic_above_cap_probe(spark) -> str:
    """The sf10-LC OOM shape at real scale, no monkeypatch: a batch of
    ~1.5M distinct keys (sf1 orders) probes a same-sized table. Above
    the 1M-key cap _probe_hint must return the frame UNHINTED — with
    BOTH broadcast thresholds disabled, the ONLY way a
    BroadcastHashJoin can appear in the final plan is a hint, so its
    absence proves the cap held. (Spark remains free to broadcast
    when its own MEASURED size clears a real threshold — that is a
    sound, size-informed decision; the r9 OOM was the hint BYPASSING
    the threshold.)"""
    import tempfile

    from pyspark.sql import functions as F

    from stupp_exclusion_etl_spark.sinks.atomic import (
        AtomicParquetTable,
        _probe_hint,
    )

    keys = (
        spark.read.parquet(f"{SF1}/orders.parquet")
        .select("o_orderkey")
        .distinct()
    )
    d = tempfile.mkdtemp(prefix="plan_scale_cap_")
    t = AtomicParquetTable(spark, d, keys=["o_orderkey"])
    t.upsert(
        spark.read.parquet(f"{SF1}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        ),
        [F.col("o_orderkey")],
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        probe = t.read().join(_probe_hint(keys), ["o_orderkey"], "left_semi")
        return final_adaptive_plan(
            probe.agg(F.count(F.lit(1)).alias("n"))
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


SCENARIOS = {
    "aqe_skew_probe": scenario_aqe_skew_probe,
    "atomic_above_cap_probe": scenario_atomic_above_cap_probe,
}

#: per-entry extra invariants checked besides snapshot equality
MUST_CONTAIN = {"aqe_skew_probe": ("skew=true",)}
MUST_NOT_CONTAIN = {
    "atomic_above_cap_probe": ("BroadcastHashJoin",),
}


def capture(spark) -> dict[str, str]:
    from stupp_exclusion_etl_spark.plans import REGISTRY

    out = {}
    for name in HEAVY:
        out[name] = final_adaptive_plan(REGISTRY[name].fn(spark, SF1))
        print(f"captured {name}", flush=True)
    for name, fn in SCENARIOS.items():
        out[name] = fn(spark)
        print(f"captured {name}", flush=True)
    return out


def main() -> int:
    from stupp_exclusion_etl_spark.session import get_spark

    if not os.path.exists(SF1):
        print(f"missing {SF1} — run tools/gen_scale.py first")
        return 1
    # the same session shape the pytest fixture uses, so the committed
    # snapshots are what the test will see
    spark = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 2 and sys.argv[1] == "--capture-to":
        # capture-only mode for the pytest guard: the final adaptive
        # plan of a runtime-adaptive query is sensitive to accumulated
        # session state (the r12 full-suite flake), so the guard
        # captures in THIS fresh process — the exact environment the
        # committed snapshots were generated in — and asserts back in
        # the pytest process
        snaps = capture(spark)
        with open(sys.argv[2], "w") as fh:
            json.dump(snaps, fh, indent=1, sort_keys=True)
        print(f"captured {len(snaps)} plans to {sys.argv[2]}")
        return 0
    snaps = capture(spark)
    for name, plan in snaps.items():
        for tok in FORBIDDEN:
            assert tok not in plan, (name, tok)
        for tok in MUST_CONTAIN.get(name, ()):
            assert tok in plan, (name, tok, plan)
        for tok in MUST_NOT_CONTAIN.get(name, ()):
            assert tok not in plan, (name, tok, plan)
    with open(SNAPSHOT_PATH, "w") as fh:
        json.dump(snaps, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(snaps)} scale plan snapshots to {SNAPSHOT_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
