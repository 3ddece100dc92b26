"""Coverage-regression guard: every SURVEY.md §2 inventory row that is
query-expressible must keep at least one registered query, and the
oracle-checked fraction must not silently erode. (A16 write-DDL, A18
retry, A20 observe are module/test-covered — see README matrix.)"""

from __future__ import annotations

from stupp_exclusion_etl_spark.plans.registry import REGISTRY

QUERY_ROWS = (
    [f"A{i}" for i in range(1, 16) if i != 14]
    + ["A14", "A15", "A17", "A19"]
    + [f"B{i}" for i in range(1, 16)]
)
MODULE_ROWS = ("A16", "A18", "A20")


def test_every_query_row_covered():
    tags = {t for q in REGISTRY.values() for t in q.tags}
    missing = [r for r in QUERY_ROWS if r not in tags]
    assert not missing, f"SURVEY §2 rows with no registered query: {missing}"


def test_oracle_coverage_floor():
    total = len(REGISTRY)
    with_oracle = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    assert total >= 160, total
    assert with_oracle / total >= 0.95, (with_oracle, total)


def test_rows_only_queries_are_quality_gated():
    """Anything without an oracle needs a dedicated quality test —
    listed here explicitly so adding an ungated rows-only query fails."""
    gated = {
        "agg_approx_distinct",  # error bound vs exact (test_rows_only_quality)
        "agg_approx_percentiles",  # error bound vs exact
        "agg_hll_shard_union",  # error bound + shard-merge consistency
        # stream_tumbling_micro_batch graduated to a FULL oracle in r4:
        # the drained sink end state hash-matches the batch window() SQL
        # (it keeps its equality test in test_rows_only_quality too).
    }
    rows_only = {n for n, q in REGISTRY.items() if q.oracle is None}
    assert rows_only == gated, rows_only.symmetric_difference(gated)


def test_harness_compare_detects_injected_wrongness():
    """Meta-test of the correctness foundation: compare() must flag a
    flipped value, a dropped row, a renamed column, and a float nudged
    past canonicalization — if the differential harness silently passed
    any of these, every green query result would be meaningless."""
    import pandas as pd

    from tests.harness import compare

    base = pd.DataFrame({"k": [1, 2, 3], "v": [1.25, 2.5, 3.75]})
    assert compare(base, base.copy()) == []
    flipped = base.copy()
    flipped.loc[1, "v"] = 2.75
    assert compare(base, flipped)
    assert compare(base, base.iloc[:2].copy())
    assert compare(base, base.rename(columns={"v": "val"}))
    nudged = base.copy()
    nudged.loc[0, "v"] = 1.2501
    assert compare(base, nudged)
    # column order must NOT matter (driver sorts by name)
    assert compare(base, base[["v", "k"]].copy()) == []
    # row order must NOT matter (order-insensitive hash)
    assert compare(base, base.iloc[::-1].reset_index(drop=True)) == []


def test_every_register_module_is_imported():
    """Registry-reachability guard (VERDICT r13 What's-wrong #1: the
    tag-based guard above provably cannot catch a dead module —
    plans/ml.py registered two queries for seven rounds while
    plans/__init__.py never imported it, so the driver, preflights,
    bench and snapshots never saw them). Walk every module under
    plans/ whose source contains a @register call and assert the
    official package import reaches it: REGISTRY under the official
    import equals REGISTRY under import-everything."""
    import importlib
    import pathlib

    import stupp_exclusion_etl_spark.plans as plans_pkg
    from stupp_exclusion_etl_spark.plans.registry import REGISTRY

    before = set(REGISTRY)
    pkg_dir = pathlib.Path(plans_pkg.__file__).parent
    for py in sorted(pkg_dir.glob("*.py")):
        if py.name.startswith("_"):
            continue
        src = py.read_text()
        if "@register(" not in src:
            continue
        mod = f"stupp_exclusion_etl_spark.plans.{py.stem}"
        importlib.import_module(mod)
        assert set(REGISTRY) == before, (
            f"{mod} registers queries but is NOT imported by "
            f"plans/__init__.py — unreachable from the driver: "
            f"{sorted(set(REGISTRY) - before)}"
        )


#: package modules that only tests import, each with the reason it stays
TEST_ONLY_MODULES = {
    "functions.metrics": "df.observe metrics for the planned OpStats hook (ROADMAP #5)",
    "sources.fixtures": "seeded ER/OF/SUR entities for the golden domain test",
    "sources.formats": "CSV/JSON/ORC ingest adapters, checked by test_formats",
    "streaming.typed_state": "transformWithStateInPandas operator, checked by test_streaming_stateful",
}


def test_every_package_module_is_reachable():
    """Dead-module guard: every module under stupp_exclusion_etl_spark/
    must be imported, transitively, from the registry import
    (``stupp_exclusion_etl_spark.plans``), a ``perfbench/*.py`` script
    or ``__spark_entry__.py`` — or sit on TEST_ONLY_MODULES with a
    reason. Imports are read with ``ast`` (nothing is executed), lazy
    in-function imports included, so a second implementation that only
    its own tests call fails here instead of lingering."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    pkg = "stupp_exclusion_etl_spark"
    modules: dict[str, Path] = {}
    for f in (repo / pkg).rglob("*.py"):
        parts = list(f.relative_to(repo).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        modules[".".join(parts)] = f

    def imported(path: Path, name: str) -> set[str]:
        is_pkg = path.name == "__init__.py"
        out = set()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                out.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    anchor = name.split(".")
                    anchor = anchor[: len(anchor) - node.level + is_pkg]
                    base = ".".join(anchor + ([base] if base else []))
                out.add(base)
                out.update(f"{base}.{a.name}" for a in node.names)
        found = set()
        for m in out:
            # importing a.b.c also imports the packages a and a.b
            parts = m.split(".")
            found.update(
                ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            )
        return found & set(modules)

    roots = [(repo / "__spark_entry__.py", "__spark_entry__")] + [
        (f, f.stem) for f in sorted((repo / "perfbench").glob("*.py"))
    ]
    seen = {f"{pkg}.plans", pkg}
    for path, name in roots:
        seen |= imported(path, name)
    todo = list(seen)
    while todo:
        cur = todo.pop()
        for m in imported(modules[cur], cur) - seen:
            seen.add(m)
            todo.append(m)

    unreached = {
        m.removeprefix(pkg + ".") for m in modules if m not in seen
    }
    assert unreached == set(TEST_ONLY_MODULES), (
        f"unreachable and unlisted: {sorted(unreached - set(TEST_ONLY_MODULES))}; "
        f"listed but reachable: {sorted(set(TEST_ONLY_MODULES) - unreached)}"
    )
