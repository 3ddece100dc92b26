"""Graph algorithms over candidate-pair edge lists.

The near-dup pipeline's output (LSH/Jaccard/embedding candidate
pairs) is a graph, and two graph primitives turn it into pipeline
decisions beyond connected components (operators.dedup):

- ``pagerank``: stationary-distribution centrality — which document
  inside a near-dup neighborhood is the *hub* (most-connected
  canonical candidate), and which sources act as boilerplate
  attractors across the corpus.
- ``triangle_counts``: per-node triangle participation — cluster
  *density* diagnostics (a dense clique of shingled boilerplate vs a
  chain of marginal matches), the standard local-clustering signal.

Both are expressed as DataFrame joins/aggregations only — no RDD
graph library, no driver-side adjacency — so they inherit Catalyst /
AQE execution and scale with the shuffle, like the CC operators this
module complements (reference has no analog; this is north-star
LLM-pipeline surface like operators/ml.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(pairs: DataFrame, id1: str = "id1", id2: str = "id2") -> DataFrame:
    """Undirected candidate pairs (id1 < id2, distinct) -> directed
    edge list with both orientations. No distinct needed: the two
    orientations cannot collide when the input is canonical."""
    return pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst")).unionByName(
        pairs.select(F.col(id2).alias("src"), F.col(id1).alias("dst"))
    )


def pagerank(edges: DataFrame, iters: int = 5, damping: float = 0.85) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` — fixed
    iteration count, deterministic enough for a value-checking SQL
    oracle (float sum order differs only at ~1e-16, far inside 6-dp
    output rounding; same contract as operators.ml.logreg_train_gd).

    Contract: every node must have >= 1 out-edge (always true for a
    symmetrized pair graph), because dangling mass is NOT
    redistributed — matching the unrolled-CTE oracle. Nodes are the
    distinct ``src`` values (= all nodes under symmetrization).

    Each iteration is ONE equi-join of the edge list with the rank
    frame on src plus ONE hash-aggregate on dst — the Pregel message
    pass as two shuffles over the EDGE list; no adjacency ever sits on
    the driver, whose only state is the node count N. localCheckpoint
    truncates lineage so round k does not replay rounds 1..k-1 (the
    same loop discipline as operators.dedup.connected_components_star's
    task placement). At 100 TB:
    pre-partition the edge table by src to make the join side
    zero-exchange, and a viral in-degree hub is just a skewed
    hash-agg key — AQE skew handling applies, no code change.

    Returns ``(node, pr)`` with ranks summing to ~1 over the node set.
    """
    from pyspark.sql import Observation

    e = edges.select("src", "dst").localCheckpoint(eager=True)
    # node count rides the node-frame checkpoint as an observed
    # metric — no separate count job over the just-written blocks
    obs = Observation()
    nodes = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n = int(obs.get["n"])
    if n == 0:
        return nodes.withColumn("pr", F.lit(0.0))
    # Per-edge transition weight joined ONCE (outdeg is recomputed per
    # iteration in the oracle but is iteration-invariant); the division
    # itself stays per-edge (pr / outdeg) to mirror the oracle's float
    # rounding exactly — pr * (1/outdeg) would double-round.
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    ew = e.join(deg, "src").localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    # Fixed iteration count and NO per-round action → the rounds chain
    # lazily into ONE job: each round references `ranks` exactly once,
    # so the plan is a linear join/agg chain over the checkpointed
    # edge blocks — no replay, and none of the per-round eager
    # materializations the loop used to pay (iters extra jobs, each a
    # full rank-frame copy). Loops that DO act per round (convergence
    # checks, e.g. connected_components_star's star contraction) still
    # checkpoint per round.
    for _ in range(iters):
        ranks = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .select("dst", (F.col("pr") / F.col("outdeg")).alias("m"))
            .groupBy("dst")
            .agg((F.lit(base) + F.lit(damping) * F.sum("m")).alias("pr"))
            .select(F.col("dst").alias("node"), "pr")
        )
    return ranks


def triangle_counts(pairs: DataFrame, id1: str = "id1", id2: str = "id2") -> DataFrame:
    """Per-node triangle participation over an undirected pair graph.

    Degree-ordered orientation (each edge directed from its lower
    ``(degree, id)`` endpoint) makes every wedge enumerate at its
    lowest-degree apex, bounding per-node fan-out by O(sqrt(2m)) — the
    classic skew-proof compact-forward scheme (Schank & Wagner / Cohen
    "Graph Twiddling in a MapReduce World"): a viral boilerplate hub
    with a million candidate neighbors contributes wedges only from
    its (few) lower-degree endpoints, never a 10^12-row self-join
    bucket. The triangle SET is orientation-invariant, so the simple
    id-ordered SQL oracle produces identical rows.

    Three shuffles total: degree agg, wedge equi-join on the apex,
    closure equi-join on the (v1, v2) pair. Returns
    ``(node, n_triangles)`` for nodes in >= 1 triangle.
    """
    deg = (
        symmetrize(pairs, id1, id2)
        .groupBy(F.col("src").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    both = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = both.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)
    e1 = oriented.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    e2 = oriented.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    # By the orientation rule the closing edge v1–v2, if present, is
    # stored as (u=v1, v=v2), so closure is a plain equi-join.
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tris = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    return (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
