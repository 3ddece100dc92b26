"""Answer checks. Each returns a list of problems; empty means correct.

A problem makes the operation count as failed, and any failure makes
the run exit non-zero.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from tests.harness import canon_df


def frame_digest(df: pd.DataFrame) -> tuple[list[str], int, str]:
    """(sorted column names, row count, order-insensitive value hash) of
    the canonical form ``tests/harness.py`` compares, so the benchmark and
    the oracle tests agree on what a correct answer is; only the hash is
    kept, not the rows."""
    cols, rows = canon_df(df)
    h = hashlib.sha256("\x1e".join("\x1f".join(r) for r in rows).encode()).hexdigest()
    return cols, len(rows), h


def compare_digests(got: tuple, want: tuple) -> list[str]:
    problems = []
    if got[0] != want[0]:
        problems.append(f"columns {got[0]} != {want[0]}")
    if got[1] != want[1]:
        problems.append(f"row count {got[1]} != {want[1]}")
    if not problems and got[2] != want[2]:
        problems.append("value hash differs")
    return problems


def compare_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    """Order-insensitive equality of two row multisets."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    if sorted(got) != sorted(want):
        return ["row values differ"]
    return []


def compare_snapshot(got: list[tuple], want: dict[int, tuple]) -> list[str]:
    """Final table (rows keyed by their first column) against the
    generator's last-write-wins fold."""
    problems = compare_rows(got, list(want.values()))
    if problems:
        keys = {r[0] for r in got}
        missing = len(want.keys() - keys)
        extra = len(keys - want.keys())
        problems.append(f"{missing} keys missing, {extra} keys unexpected")
    return problems


def check_knn(rows: list[tuple], queries: np.ndarray, corpus: np.ndarray,
              k: int) -> list[str]:
    """Served top-k must hold k distinct ids per query, ordered, each
    with the true cosine (rounded to 6 places by the engine)."""
    problems = []
    by_q: dict[int, list[tuple]] = {}
    for qid, vid, cos in rows:
        by_q.setdefault(qid, []).append((vid, cos))
    if sorted(by_q) != list(range(len(queries))):
        return [f"answered queries {sorted(by_q)[:5]}... != {len(queries)} queries"]
    for qid, hits in by_q.items():
        ids = [h[0] for h in hits]
        if len(ids) != k or len(set(ids)) != k:
            problems.append(f"query {qid}: {len(ids)} results, {len(set(ids))} distinct")
            continue
        q = queries[qid].astype(np.float64)
        v = corpus[ids].astype(np.float64)
        true = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
        got = np.array([h[1] for h in hits])
        if np.max(np.abs(true - got)) > 1e-5:
            problems.append(f"query {qid}: cosine off by {np.max(np.abs(true - got)):.2e}")
    return problems


def recall_at_k(rows: list[tuple], exact_ids: np.ndarray) -> float:
    by_q: dict[int, set] = {}
    for qid, vid, _ in rows:
        by_q.setdefault(qid, set()).add(vid)
    k = exact_ids.shape[1]
    hits = sum(len(by_q.get(q, set()) & set(exact_ids[q].tolist()))
               for q in range(len(exact_ids)))
    return hits / (k * len(exact_ids))
