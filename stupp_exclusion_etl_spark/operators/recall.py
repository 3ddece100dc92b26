"""Sample-based recall estimation + escalation for the cost-guarded
reroutes (VERDICT r8 wrong #1 / next-round task #2).

Above their budgets, ``knn_join`` (on_exceed="lsh") and
``embedding_neardup_pairs`` (on_exceed="subdivide") trade exactness
for bounded work via sign-of-projection LSH. On clustered embeddings
that trade is nearly free (RECALL_r08: pair recall 0.94); on
high-entropy data it is NOT (pair recall 0.076) — and before this
module the engine neither measured nor surfaced the loss, so a user
with adversarial embeddings above budget silently got a nearly-empty
answer.

This module closes that in two steps, both driver-side and bounded:

1. **Estimate**: collect a small deterministic sample of vectors
   (``orderBy(xxhash64(id)).limit(n)`` — stable across runs/engines),
   replicate the exact md5-derived hyperplanes of
   ``operators.similarity.hyperplane`` in numpy, and compute the
   fraction of the sample's TRUE result pairs that survive a given
   LSH config. A few hundred vectors ⇒ tens of thousands of numpy dot
   products: microseconds, no Spark job beyond the bounded sample
   collect (which is memoized through operators.budget.cached_estimate
   alongside the cardinality estimate).

2. **Escalate**: enumerate the configs that still fit the work budget
   — OR-amplification with T independent hash tables (more tables,
   proportionally more bits each: work ≈ T·est/2^bits stays fixed,
   recall 1-(1-s^bits)^T grows) and, for kNN, wider multi-probe radii
   — and pick the cheapest config whose ESTIMATED recall clears the
   caller's ``recall_target``, else the argmax. The chosen config and
   its estimate are surfaced via ``warnings.warn`` and
   ``last_reroute_info()``.

The estimator is honest about its own limits: with fewer than
``_MIN_SAMPLE_PAIRS`` qualifying pairs in the sample it returns None
(wide confidence interval) and escalation falls back to the analytic
per-bit survival model instead of silently trusting noise.
"""

from __future__ import annotations

import hashlib
import math
import warnings

import numpy as np

#: introspection hook: the last reroute's chosen config + estimate,
#: keyed by operator name — tests and notebooks read this after a
#: guarded call (DataFrames can't carry metadata through transforms)
_LAST_REROUTE: dict[str, dict] = {}

_MIN_SAMPLE_PAIRS = 25


def last_reroute_info(op: str) -> dict | None:
    """The most recent reroute record for ``op`` ("knn_join" or
    "embedding_neardup_pairs"): config, estimated recall, sample
    sizes. None if that operator has not rerouted in this process."""
    return _LAST_REROUTE.get(op)


def planes_matrix(dim: int, n_planes: int, offset: int = 0) -> np.ndarray:
    """(n_planes, dim) hyperplane matrix bit-identical to
    operators.similarity.hyperplane(dim, offset + p) — same md5
    derivation, so numpy sample buckets equal Spark's buckets."""
    out = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(
                f"plane:{offset + p}:{d}".encode()
            ).hexdigest()[:8]
            out[p, d] = int(h, 16) / float(2**32) - 0.5
    return out


def bucket_bits(vecs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n_vecs, n_planes) boolean sign-of-projection bits (proj > 0 —
    strictly, matching lsh_assign_buckets' F.when(proj > 0, ...))."""
    return (vecs @ planes.T) > 0


def sample_vectors(df, id_col: str, vec_col: str, n: int) -> list:
    """Deterministic bounded sample: n (id, vector) rows by xxhash64 of
    the id — stable under partitioning/order, TakeOrdered (no global
    sort). Driver-side but hard-capped at n rows."""
    from pyspark.sql import functions as F

    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(n)
        .collect()
    )
    return [(r["i"], r["v"]) for r in rows]


# ----------------------------------------------------------------------
# near-dup pairs (embedding_neardup_pairs, on_exceed="subdivide")
# ----------------------------------------------------------------------


def estimate_neardup_recall(
    sample: list, threshold: float, n_bits: int, n_tables: int
) -> tuple[float | None, int]:
    """(estimated pair recall, qualifying sample pairs) of T-table
    n_bits sub-bucketing: over sample pairs with cosine >= threshold,
    the fraction landing in the same sub-bucket in >= 1 table. None
    when too few qualifying pairs for a usable estimate."""
    v = np.asarray([x[1] for x in sample], dtype=np.float64)
    n = len(v)
    if n < 2:
        return None, 0
    norms = np.linalg.norm(v, axis=1)
    norms[norms == 0] = 1.0
    cos = (v @ v.T) / np.outer(norms, norms)
    iu = np.triu_indices(n, k=1)
    qual = cos[iu] >= threshold
    n_qual = int(qual.sum())
    if n_qual < _MIN_SAMPLE_PAIRS:
        return None, n_qual
    survive = np.zeros(len(iu[0]), dtype=bool)
    for t in range(n_tables):
        bits = bucket_bits(v, planes_matrix(len(v[0]), n_bits,
                                            offset=t * n_bits))
        same = (bits[iu[0]] == bits[iu[1]]).all(axis=1)
        survive |= same
    return float(survive[qual].mean()), n_qual


#: table-count ladder for the neardup sub-bucket reroute. Deep
#: OR-amplification matters on low-locality data: table-survival is
#: strongly CORRELATED across same-size tables (a pair just under the
#: threshold angle fails everywhere), so 3 tables of b bits barely
#: beat 1 — but many tables of MORE bits each (same candidate work
#: T·est/2^b) decorrelate: measured on the adversarial fixture,
#: {1×4b: 0.24, 3×5b: 0.45, 12×7b: 0.62, 24×8b: 0.75} pair recall at
#: ~identical pair budgets. Capped at 24: per-row indexing cost (T·b
#: plane dots + T-way explode) is linear in T and unmodeled by the
#: pair budget — 24 keeps it two orders below the quadratic term at
#: the scales the guard triggers.
_NEARDUP_TABLES = (1, 2, 3, 4, 6, 8, 12, 16, 24)


def neardup_configs(est: int, max_pairs: int) -> list[tuple[int, int]]:
    """Feasible (n_bits, n_tables) ladder: expected candidate work
    ~ T·est/2^bits <= max_pairs, T ascending from _NEARDUP_TABLES.
    T=1 first — it reproduces the pre-escalation single-table config
    exactly."""
    out = []
    for t in _NEARDUP_TABLES:
        b = max(1, math.ceil(math.log2(t * est / max_pairs)))
        if b <= 30:
            out.append((b, t))
    if not out:
        # est/max_pairs > 2^30: even a single table needs more than 30
        # bucket bits to hit the budget. Clamp at the 30-bit ceiling
        # (2^30 buckets) like knn_configs' 16-plane fallback — the work
        # bound degrades gracefully instead of the reroute crashing.
        out = [(30, 1)]
    return out


def choose_neardup_config(
    sample: list,
    threshold: float,
    est: int,
    max_pairs: int,
    recall_target: float | None,
    budget_escalation: float | None = None,
) -> dict:
    """Pick (n_bits, n_tables): without a target, the single-table
    minimum-bits config (byte-identical plan to the unescalated path);
    with a target, the cheapest feasible config whose estimated recall
    clears it, else the feasible argmax. Falls back to the analytic
    1-(1-s^b)^T model (s = per-bit survival at the threshold angle)
    when the sample has too few qualifying pairs.

    ``budget_escalation`` (opt-in, VERDICT r9 task #3): when NO
    in-budget config's estimated recall clears the target, permit
    configs whose expected work runs up to ``budget_escalation ×
    max_pairs`` — fewer sub-bucket bits, more surviving pairs. The
    SAME sample estimate decides; the chosen config reports its actual
    work multiple as ``budget_multiplier`` so the warning states what
    the caller paid. In-budget configs are always preferred: the
    escalated tier is only scanned after the whole in-budget ladder
    missed the target."""
    s = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    configs = neardup_configs(est, max_pairs)
    base = configs[0]
    if recall_target is None:
        r, n_qual = estimate_neardup_recall(sample, threshold, *base)
        return {"n_bits": base[0], "n_tables": base[1],
                "recall_est": r, "sample_pairs": n_qual,
                "escalated": False, "budget_multiplier": 1.0}
    tiers = [configs]
    if budget_escalation is not None and budget_escalation > 1:
        seen = set(configs)
        tiers.append([
            c
            for c in neardup_configs(
                est, int(max_pairs * budget_escalation)
            )
            if c not in seen
        ])
    best = None
    for tier_i, tier in enumerate(tiers):
        for b, t in tier:
            r, n_qual = estimate_neardup_recall(sample, threshold, b, t)
            analytic = 1.0 - (1.0 - s**b) ** t
            eff = r if r is not None else analytic
            mult = (
                1.0 if tier_i == 0
                else round(max(1.0, t * est / 2**b / max_pairs), 2)
            )
            cand = {"n_bits": b, "n_tables": t, "recall_est": r,
                    "recall_analytic": round(analytic, 4),
                    "sample_pairs": n_qual,
                    "escalated": t > 1 or tier_i > 0,
                    "budget_multiplier": mult}
            if eff >= recall_target:
                return cand
            if best is None or eff > best[0]:
                best = (eff, cand)
    return best[1]


# ----------------------------------------------------------------------
# batch kNN (knn_join, on_exceed="lsh")
# ----------------------------------------------------------------------


def _n_probes(p: int, radius: int) -> int:
    n = 1
    if radius >= 1:
        n += p
    if radius >= 2:
        n += p * (p - 1) // 2
    return n


def estimate_knn_recall(
    corpus_sample: list,
    query_sample: list,
    k: int,
    n_planes: int,
    radius: int,
    n_tables: int,
    exclude_self: bool,
) -> tuple[float | None, int]:
    """(estimated recall@k, sample pair count): exact top-k of each
    sampled query within the sampled corpus, then the fraction of
    those (query, neighbor) pairs whose Hamming distance is <= radius
    in >= 1 table."""
    cv = np.asarray([x[1] for x in corpus_sample], dtype=np.float64)
    qv = np.asarray([x[1] for x in query_sample], dtype=np.float64)
    if len(cv) < k + 1 or len(qv) == 0:
        return None, 0
    cn = np.linalg.norm(cv, axis=1)
    qn = np.linalg.norm(qv, axis=1)
    cn[cn == 0] = 1.0
    qn[qn == 0] = 1.0
    cos = (qv @ cv.T) / np.outer(qn, cn)
    if exclude_self:
        cids = [x[0] for x in corpus_sample]
        qids = [x[0] for x in query_sample]
        for qi, qid in enumerate(qids):
            for ci, cid in enumerate(cids):
                if cid == qid:
                    cos[qi, ci] = -np.inf
    topk = np.argsort(-cos, axis=1)[:, :k]
    dim = cv.shape[1]
    hit = np.zeros(topk.shape, dtype=bool)
    for t in range(n_tables):
        pl = planes_matrix(dim, n_planes, offset=t * n_planes)
        cb = bucket_bits(cv, pl)
        qb = bucket_bits(qv, pl)
        for qi in range(len(qv)):
            ham = (cb[topk[qi]] != qb[qi]).sum(axis=1)
            hit[qi] |= ham <= radius
    return float(hit.mean()), int(hit.size)


def knn_configs(est: int, max_comparisons: int) -> list[dict]:
    """Feasible (n_planes, radius, n_tables): minimum plane count per
    (radius, tables) with expected work est·T·probes/2^p under budget.
    (radius=1, T=1) first — the pre-escalation config."""
    out = []
    for t in (1, 2, 4):
        for radius in (1, 2):
            p = next(
                (
                    p
                    for p in range(1, 17)
                    if est * t * _n_probes(p, radius) / (1 << p)
                    <= max_comparisons
                ),
                None,
            )
            if p is not None:
                out.append(
                    {"n_planes": p, "radius": radius, "n_tables": t}
                )
    if not out:
        # nothing fits even at 16 planes: keep the old hard ceiling
        # (the work bound degrades gracefully; 2^16 buckets)
        out = [{"n_planes": 16, "radius": 1, "n_tables": 1}]
    # stable order: cheapest escalation first (T asc, radius asc)
    out.sort(key=lambda c: (c["n_tables"], c["radius"]))
    return out


def choose_knn_config(
    corpus_sample: list,
    query_sample: list,
    k: int,
    est: int,
    max_comparisons: int,
    recall_target: float | None,
    exclude_self: bool,
    budget_escalation: float | None = None,
) -> dict:
    """See choose_neardup_config — same contract, kNN config space
    (planes × multi-probe radius × tables). ``budget_escalation``
    admits configs up to N× max_comparisons only after every in-budget
    config's estimated recall missed the target."""
    configs = knn_configs(est, max_comparisons)
    base = configs[0]
    if recall_target is None:
        r, npairs = estimate_knn_recall(
            corpus_sample, query_sample, k, base["n_planes"],
            base["radius"], base["n_tables"], exclude_self,
        )
        return {**base, "recall_est": r, "sample_pairs": npairs,
                "escalated": False, "budget_multiplier": 1.0}
    tiers = [configs]
    if budget_escalation is not None and budget_escalation > 1:
        seen = {tuple(sorted(c.items())) for c in configs}
        tiers.append([
            c
            for c in knn_configs(
                est, int(max_comparisons * budget_escalation)
            )
            if tuple(sorted(c.items())) not in seen
        ])
    best = None
    for tier_i, tier in enumerate(tiers):
        for cfg in tier:
            r, npairs = estimate_knn_recall(
                corpus_sample, query_sample, k, cfg["n_planes"],
                cfg["radius"], cfg["n_tables"], exclude_self,
            )
            mult = 1.0
            if tier_i > 0:
                work = (
                    est * cfg["n_tables"]
                    * _n_probes(cfg["n_planes"], cfg["radius"])
                    / (1 << cfg["n_planes"])
                )
                mult = round(max(1.0, work / max_comparisons), 2)
            cand = {**cfg, "recall_est": r, "sample_pairs": npairs,
                    "escalated": cfg["n_tables"] > 1
                    or cfg["radius"] > 1 or tier_i > 0,
                    "budget_multiplier": mult}
            eff = r if r is not None else 0.0
            if r is not None and r >= recall_target:
                return cand
            if best is None or eff > best[0]:
                best = (eff, cand)
    return best[1]


def record_reroute(op: str, info: dict, recall_target: float | None) -> None:
    """Persist + surface the reroute decision: module hook always;
    warnings.warn when the estimate is missing or misses the target
    (the silent-quality-cliff case this module exists for)."""
    _LAST_REROUTE[op] = info
    r = info.get("recall_est")
    if r is None:
        warnings.warn(
            f"{op}: over budget — rerouted to the approximate LSH path "
            f"with config {info}; recall could not be estimated (too "
            f"few qualifying sample pairs). Results may be incomplete.",
            stacklevel=3,
        )
    elif recall_target is not None and r < recall_target:
        mult = info.get("budget_multiplier", 1.0) or 1.0
        spent = (
            f"even at {mult:.1f}x the budget (budget_escalation), "
            if mult > 1
            else ""
        )
        warnings.warn(
            f"{op}: over budget — {spent}best feasible LSH config "
            f"{info} has estimated recall {r:.2f} < target "
            f"{recall_target:.2f}. Raise the budget or pass "
            f"budget_escalation=N to permit up to N× more work; "
            f"results are incomplete to roughly this degree.",
            stacklevel=3,
        )
    elif r < 0.5:
        warnings.warn(
            f"{op}: over budget — rerouted to the approximate LSH path; "
            f"estimated recall is only {r:.2f} on this data (low "
            f"locality). Pass recall_target=... to escalate within "
            f"budget or raise the budget for an exact answer.",
            stacklevel=3,
        )


# ----------------------------------------------------------------------
# persisted IVF index serving (PersistedIvfIndex.topk, recall_target=)
# ----------------------------------------------------------------------


def estimate_ivf_recall(
    sample: list, query_vec: list, k: int, probed_cells
) -> tuple[float | None, int]:
    """(estimated recall@k of probing ``probed_cells``, top size
    used): exact top-m of the query within the sampled assignment
    rows (m = max(k, _MIN_SAMPLE_PAIRS), capped at the sample — k
    alone is too few observations for a stable fraction), then the
    fraction of those whose ASSIGNED cell is probed. ``sample`` rows
    are (id, cell, vector). None on an empty sample."""
    if not sample:
        return None, 0
    v = np.asarray([x[2] for x in sample], dtype=np.float64)
    m = min(max(k, _MIN_SAMPLE_PAIRS), len(v))
    q = np.asarray(query_vec, dtype=np.float64)
    nv = np.linalg.norm(v, axis=1)
    nv[nv == 0] = 1.0
    nq = np.linalg.norm(q)
    if nq == 0:
        nq = 1.0
    cos = (v @ q) / (nv * nq)
    top = np.argsort(-cos)[:m]
    probed = set(probed_cells)
    return (
        float(np.mean([sample[i][1] in probed for i in top])),
        int(m),
    )


def choose_ivf_probe_batch(
    sample: list,
    query_vecs: list,
    k: int,
    cell_orders: list,
    n_probe: int,
    recall_target: float,
    max_n_probe: int,
) -> dict:
    """ONE escalation decision for a whole query batch (VERDICT r13
    #4; a single query is a batch of one): the smallest probe depth
    >= ``n_probe`` at which the WORST sampled query's estimated recall
    clears the target, else the feasible argmax (at a full probe the
    estimate is 1.0 by construction — every cell is probed, and the
    served answer is exact over the index). When ``max_n_probe`` is
    below ``n_probe`` the cap wins: the loop starts at the cap, so a
    ceiling tighter than the index default still yields one feasible
    candidate instead of an empty range. ``query_vecs``/``cell_orders``
    are the bounded per-sampled-query vectors and probe-cell orders; the
    reported ``recall_est`` is the min across sampled queries
    (conservative), ``sampled_queries`` records the sample size. An
    empty query sample or empty assignment sample yields
    recall_est=None (record_probe_decision warns, serving proceeds
    unfenced at the floor depth)."""
    best = None
    for p in range(min(n_probe, max_n_probe), max_n_probe + 1):
        ests = [
            estimate_ivf_recall(sample, qv, k, order[:p])
            for qv, order in zip(query_vecs, cell_orders)
        ]
        rs = [r for r, _m in ests]
        r = (
            None
            if not rs or any(x is None for x in rs)
            else min(rs)
        )
        m = min((mm for _r, mm in ests), default=0)
        cand = {
            "n_probe": p,
            "recall_est": r,
            "sample_top": m,
            "escalated": p > n_probe,
            "sampled_queries": len(query_vecs),
        }
        if r is not None and r >= recall_target:
            return cand
        eff = r if r is not None else 0.0
        # ties prefer the DEEPER probe: probing more cells can never
        # lower true recall, so the argmax fallback is conservative
        if best is None or eff >= best[0]:
            best = (eff, cand)
    return best[1]


def record_probe_decision(
    op: str, info: dict, recall_target: float | None
) -> None:
    """IVF twin of record_reroute: persist the probe decision; warn
    when the estimate is missing or the target is unreachable within
    the probe cap."""
    _LAST_REROUTE[op] = info
    r = info.get("recall_est")
    if r is None:
        warnings.warn(
            f"{op}: recall could not be estimated (empty assignment "
            f"sample); serving at n_probe={info['n_probe']} without a "
            f"fence.",
            stacklevel=3,
        )
    elif recall_target is not None and r < recall_target:
        warnings.warn(
            f"{op}: even at n_probe={info['n_probe']} (the probe cap), "
            f"estimated recall {r:.2f} < target {recall_target:.2f}. "
            f"Raise max_n_probe (a full probe is exact over the index) "
            f"or rebuild with more cells; results are incomplete to "
            f"roughly this degree.",
            stacklevel=3,
        )
