"""At-scale AQE final-plan guard (VERDICT r9 next-round task #2): the
sf0.001 compile-time snapshots cannot see what AQE does at runtime,
and plan shape is scale-sensitive (the r9 probe-hint OOM was a plan
fine at sf0.1 and deadly at sf10). Every heavy-set query's FINAL
adaptive plan at sf1 — plus the skew-split and above-cap-probe
scenarios — must match the committed normalized snapshot and the
structural invariants:

- no CartesianProduct, no row-at-a-time Python after AQE re-planning;
- ``aqe_skew_probe``: the skew-join split ENGAGED (skew=true);
- ``atomic_above_cap_probe``: a >1M-key probe does NOT broadcast.

Isolation (VERDICT r12 next-round task #1): an exact-text snapshot of
a runtime-ADAPTIVE plan is sensitive to accumulated shared-session
state — in r12's uninterrupted full-suite run one capture differed
after ~1100 prior tests while passing in isolation. The plans are
therefore captured ONCE in a fresh subprocess session (the same
``get_spark(cpus=8, shuffle_partitions=8)`` shape
``tools/plan_scale.py`` generates the committed snapshots with, via
its ``--capture-to`` mode) and asserted here; the guard keeps its
full exact-text sensitivity — a genuinely flipped plan still fails —
without inheriting whatever ~1100 prior tests did to the shared
session.

Intentional plan changes: python tools/plan_scale.py and review the
diff. Env-gated: needs /tmp/scaled/sf1 (tools/gen_scale.py).
"""

from __future__ import annotations

import difflib
import json
import os
import subprocess
import sys

import pytest

from tools.plan_scale import (
    FORBIDDEN,
    HEAVY,
    MUST_CONTAIN,
    MUST_NOT_CONTAIN,
    SCENARIOS,
    SF1,
    SNAPSHOT_PATH,
)

pytestmark = [
    pytest.mark.skipif(
        not os.path.exists(SF1),
        reason="sf1 fixture missing — python tools/gen_scale.py",
    ),
    # sf1 capture sessions — round-exit tier (see pytest.ini)
    pytest.mark.slow,
]

SNAPS = (
    json.load(open(SNAPSHOT_PATH)) if os.path.exists(SNAPSHOT_PATH) else {}
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def captured(tmp_path_factory) -> dict[str, str]:
    """All sf1 final adaptive plans, captured in ONE fresh subprocess
    session (≈ the snapshot-generation environment; see module
    docstring for why not the shared pytest session)."""
    out = tmp_path_factory.mktemp("plan_scale") / "captured.json"
    proc = subprocess.run(
        [sys.executable, "tools/plan_scale.py", "--capture-to", str(out)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    assert proc.returncode == 0, (
        f"plan_scale capture subprocess failed:\n"
        f"stdout:\n{proc.stdout[-4000:]}\nstderr:\n{proc.stderr[-4000:]}"
    )
    return json.load(open(out))


def _check(name: str, plan: str) -> None:
    for tok in FORBIDDEN:
        assert tok not in plan, f"{name}: forbidden {tok} in final plan"
    for tok in MUST_CONTAIN.get(name, ()):
        assert tok in plan, f"{name}: expected {tok} in final plan\n{plan}"
    for tok in MUST_NOT_CONTAIN.get(name, ()):
        assert tok not in plan, f"{name}: forbidden {tok}\n{plan}"
    assert name in SNAPS, (
        f"{name} missing from plan_snapshots_scale.json — run "
        f"tools/plan_scale.py"
    )
    if plan != SNAPS[name]:
        diff = "\n".join(
            difflib.unified_diff(
                SNAPS[name].splitlines(), plan.splitlines(),
                "snapshot", "current", lineterm="",
            )
        )
        raise AssertionError(
            f"FINAL adaptive plan of {name} changed at sf1 — if "
            f"intentional, run tools/plan_scale.py and review:\n{diff}"
        )


def test_scale_snapshot_covers_heavy_set():
    assert sorted(SNAPS) == sorted([*HEAVY, *SCENARIOS])


@pytest.mark.parametrize("name", HEAVY)
def test_heavy_final_plan_at_sf1(captured, name):
    _check(name, captured[name])


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_scale_scenario_final_plan(captured, name):
    _check(name, captured[name])
