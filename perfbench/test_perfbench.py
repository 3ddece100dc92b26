"""Tests of the benchmark itself: its answer checks must catch a wrong
answer, a wrong answer must fail the command, and the command must
refuse to run without the engine.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd

import checks
import gen
import spans

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _corrupt(rec: tuple) -> tuple:
    return rec[:5] + (rec[5] + 0.001,) + rec[6:]


def _stream(seed: int, **kw) -> gen.PageStream:
    args = dict(first_id=101, seq0=100, batch_rows=40, update_share=0.5,
                malformed_share=0.1, delete_every=3, delete_rows=5)
    args.update(kw)
    return gen.PageStream(seed, **args)


def _preloaded() -> dict:
    rng = np.random.default_rng(0)
    return {r[0]: r for r in gen.record_rows(rng, np.arange(1, 101), 0)}


def test_snapshot_check_catches_a_corrupted_expected_row():
    stream = _stream(3)
    batches = [stream.batch(i) for i in range(6)]
    want = gen.fold(batches, _preloaded())
    got = list(want.values())
    assert checks.compare_snapshot(got, want) == []
    key = next(iter(want))
    bad = {**want, key: _corrupt(want[key])}
    assert checks.compare_snapshot(got, bad)
    missing = dict(want)
    missing.pop(key)
    assert checks.compare_snapshot(got, missing)


def test_fold_is_last_write_wins_with_deletes():
    stream = _stream(5, delete_every=2)
    batches = [stream.batch(i) for i in range(6)]
    assert [bool(b.delete_ids) for b in batches] == [False, True] * 3
    base = _preloaded()
    state = gen.fold(batches, base)
    for i, b in enumerate(batches):
        later = {r[0] for c in batches[i + 1:] for r in c.good}
        assert not (set(b.delete_ids) - later) & state.keys()
    for key, rec in state.items():
        writes = [r for b in batches for r in b.good if r[0] == key] or [base[key]]
        assert rec == max(writes, key=lambda r: r[-1])


def test_planted_malformed_pages_are_counted():
    b = _stream(7, batch_rows=500).batch(0)
    assert b.n_malformed == len(b.pages) - len(b.good) > 0


def test_oracle_digest_catches_a_corrupted_expected_answer():
    df = pd.DataFrame({"doc_id": [1, 2, 3], "quality": [0.5, 0.25, 1.0]})
    shuffled = df.iloc[[2, 0, 1]].reset_index(drop=True)
    assert checks.compare_digests(checks.frame_digest(shuffled),
                                  checks.frame_digest(df)) == []
    bad = df.copy()
    bad.loc[1, "quality"] = 0.250001
    assert checks.compare_digests(checks.frame_digest(df), checks.frame_digest(bad))
    assert checks.compare_digests(checks.frame_digest(df),
                                  checks.frame_digest(df.rename(columns={"quality": "q"})))


def test_knn_check_catches_wrong_scores_and_short_answers():
    x, q = gen.embedding_corpus(seed=1, n=200, dim=8, clusters=4, queries=3)
    ids, cos = gen.exact_topk(x, q, 10)
    rows = [(qi, int(ids[qi, j]), round(float(cos[qi, j]), 6))
            for qi in range(3) for j in range(10)]
    assert checks.check_knn(rows, q, x, 10) == []
    assert checks.recall_at_k(rows, ids) == 1.0
    wrong = list(rows)
    wrong[4] = (wrong[4][0], wrong[4][1], wrong[4][2] - 0.01)
    assert checks.check_knn(wrong, q, x, 10)
    assert checks.check_knn(rows[:-1], q, x, 10)


def test_tail_leaves_ten_samples_beyond():
    vals = list(range(1, 101))
    pct, v = spans.tail(vals)
    assert sum(1 for x in vals if x > v) >= 10
    assert pct == 90
    assert spans.tail(list(range(15))) is None


def test_cycle_ms_weighs_every_kind_by_its_count():
    import run

    ops = [["read", 0.1, True]] * 3 + [["read", 0.3, True], ["knn", 1.0, True],
                                       ["knn", 1.4, True], ["write", 2.0, False]]
    got = run.cycle_ms(ops, {"read": 4, "knn": 1, "write": 1})
    assert abs(got - 1000 * (4 * 0.1 + 1.2 + 2.0)) < 1e-6


def test_loop_runs_whole_cycles_within_the_seconds():
    import run

    ctx = run.Ctx(None, spans.NullTracer(), Path("."), seed=1, seconds=10.0)
    ctx.start_loop()
    assert ctx.running(3)
    ctx.ops += [["a", 2.0, True], ["b", 1.0, True]]
    assert ctx.running(3)  # inside the first cycle
    ctx.ops.append(["c", 1.0, True])
    ctx._loop_t0 -= 4.0  # four seconds busy: another 4 s cycle ends at 8 s
    assert ctx.running(3)
    ctx.ops += [["a", 2.0, True], ["b", 2.0, True], ["c", 2.0, True]]
    ctx._loop_t0 -= 6.0  # ten seconds busy: the next cycle would end late
    assert not ctx.running(3)


def test_gc_heap_reads_the_peak_before_a_collection(tmp_path):
    import run

    log = tmp_path / "gc.log"
    log.write_text(
        "[0.5s][info][gc] Using G1\n"
        "[0.9s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 24M->3M(256M) 2ms\n"
        "[4.1s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 1G->200M(1536M) 5ms\n"
        "[6.0s][info][gc] GC(2) Pause Remark 700M->690M(1536M) 3ms\n")
    assert run.gc_heap(log) == {"peak_heap_used_mb": (1024.0, "MB"),
                                "peak_heap_live_mb": (690.0, "MB"),
                                "heap_committed_mb": (1536.0, "MB")}
    assert run.gc_heap(tmp_path / "missing.log")["peak_heap_used_mb"] == (0.0, "MB")


def test_hot_share_of_a_skewed_sample():
    keys = np.array([1] * 50 + list(range(2, 52)))
    assert gen.hot_share(keys) == 0.5


def test_materialized_keeps_recursive_ctes_plain():
    from batch_pipeline import materialized

    sql = ("WITH RECURSIVE a AS (SELECT 1 AS x), "
           "r AS (SELECT x FROM a UNION SELECT x + 1 FROM r WHERE x < 3) "
           "SELECT * FROM r")
    out = materialized(sql)
    assert "a AS MATERIALIZED (" in out
    assert "r AS (" in out


def test_command_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_lookup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_a_wrong_answer_fails_the_command(tmp_path):
    """End to end (starts Spark, about a minute): serve_lookup is fed a
    corrupted expected answer for every point read once the loop runs;
    those reads must count as failed and the command must exit non-zero."""
    wrapper = tmp_path / "corrupt_truth.py"
    wrapper.write_text(
        "import sys\n"
        f"sys.path[:0] = [{str(HERE)!r}, {str(ROOT)!r}]\n"
        "import run, serve_lookup\n"
        "real = serve_lookup.Truth.where\n"
        "def where(self, kind, arg):\n"
        "    rows = real(self, kind, arg)\n"
        "    if kind == 'point' and self.corrupt:\n"
        "        rows = [r[:5] + (r[5] + 0.001,) + r[6:] for r in rows] or [(arg,)]\n"
        "    return rows\n"
        "serve_lookup.Truth.where = where\n"
        "serve_lookup.Truth.corrupt = False\n"
        "real_loop = serve_lookup.loop\n"
        "def loop(ctx, state):\n"
        "    serve_lookup.Truth.corrupt = True\n"
        "    real_loop(ctx, state)\n"
        "serve_lookup.loop = loop\n"
        "sys.exit(run.main(sys.argv[1:]))\n")
    proc = subprocess.run(
        [sys.executable, str(wrapper), "--workload", "serve_lookup", "--seed", "2",
         "--seconds", "3", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 1, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert "FAILED point" in proc.stdout
