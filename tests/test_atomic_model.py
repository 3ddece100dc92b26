"""Model-based stateful test of the atomic table (sinks/atomic.py).

Delta-style protocol property: a seeded random walk drives every
public mutating operation — upsert (incl. last-write-wins stale
batches and add-column schema evolution), delete_keys, merge_into
(all matched/not-matched clause combinations), compact, restore, gc —
against a pure-Python reference model (a dict of key → row plus a
version → snapshot history). After EVERY op the table's read() must
equal the model exactly; at the end every retained version must
time-travel to its recorded snapshot byte-for-value, the change feed
between arbitrary version pairs must equal the model's semantic diff
(compaction-only intervals diff to empty), and gc-expired versions
must raise the typed VersionExpiredError from both read() and
changes().

The walk is deterministic (random.Random(seed) + forced coverage
steps), so a failure replays exactly; Spark-side nondeterminism is
excluded by construction — every generated ts is unique, so
keep_latest never tie-breaks arbitrarily.

Reference for the semantics under test: upsert keep-latest merge
(atomic.py upsert), clause-wise MERGE (merge_into), semantic CDF
(changes — copied rows drop out), zero-data-IO restore, retention gc.
"""

from __future__ import annotations

import random

import pytest

# random-walk model checks over every table shape — round-exit tier (see pytest.ini)
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.sinks.atomic import (
    AtomicParquetTable,
    VersionExpiredError,
)

KEYS = list(range(12))


class Model:
    """Pure-Python twin: key → row-dict; version → frozen snapshot."""

    def __init__(self) -> None:
        self.rows: dict[int, dict] = {}
        self.snapshots: dict[int, dict[int, dict]] = {}

    def freeze(self, version: int) -> None:
        self.snapshots[version] = {
            k: dict(r) for k, r in self.rows.items()
        }

    def upsert(self, batch: list[dict]) -> None:
        # keep_latest over existing ∪ batch, recency = max ts (all ts
        # unique by construction, so the winner is total-ordered)
        best: dict[int, dict] = {}
        for r in batch:
            k = r["k"]
            if k not in best or r["ts"] > best[k]["ts"]:
                best[k] = dict(r)
        for k, r in best.items():
            cur = self.rows.get(k)
            if cur is None or r["ts"] > cur["ts"]:
                self.rows[k] = r

    def delete(self, keys: list[int]) -> None:
        for k in keys:
            self.rows.pop(k, None)

    def merge(self, src: list[dict], matched: str, not_matched: str) -> None:
        for r in src:
            k = r["k"]
            if k in self.rows:
                if matched == "update":
                    self.rows[k] = dict(r)
                elif matched == "delete":
                    del self.rows[k]
            elif not_matched == "insert":
                self.rows[k] = dict(r)

    def diff(self, a: int, b: int) -> dict[int, tuple[str, dict]]:
        """key → (_change_type, carried row): new values for
        insert/update, old values for delete — changes()'s contract."""
        sa, sb = self.snapshots[a], self.snapshots[b]
        out: dict[int, tuple[str, dict]] = {}
        for k, r in sb.items():
            if k not in sa:
                out[k] = ("insert", r)
            elif r != sa[k]:
                out[k] = ("update", r)
        for k, r in sa.items():
            if k not in sb:
                out[k] = ("delete", r)
        return out


def _df(spark, rows: list[dict], cols: list[str]):
    data = [tuple(r.get(c) for c in cols) for r in rows]
    ddl_types = {"k": "int", "v": "string", "ts": "long",
                 "p": "int", "extra": "double"}
    ddl = ", ".join(f"{c} {ddl_types[c]}" for c in cols)
    return spark.createDataFrame(data, ddl)


def _assert_read_equals(df, expected: dict[int, dict], ctx: str) -> None:
    assert df is not None, ctx
    got = {}
    for row in df.collect():
        d = row.asDict()
        got[d["k"]] = d
    assert sorted(got) == sorted(expected), (
        f"{ctx}: key sets differ\n got {sorted(got)}\n exp {sorted(expected)}"
    )
    for k, exp in expected.items():
        g = got[k]
        for c in g:  # read schema is the manifest's union schema
            assert g[c] == exp.get(c), (
                f"{ctx}: key {k} col {c}: got {g[c]!r} exp {exp.get(c)!r}"
            )


@pytest.mark.parametrize(
    "cfg",
    [
        {},  # flat single-directory table
        {  # every layout feature on: partitioned, clustered, indexed
            "partition_by": ["p"],
            "cluster_by": ["k"],
            "cluster_files": 2,
            "index_by": ["v"],
        },
        {  # the self-maintaining table: housekeeping fires after every
           # commit (tiny compaction trigger, 8-version retention) and
           # must stay invisible to the model's semantics
            "cluster_by": ["k"],
            "cluster_files": 2,
            "auto_compact": {
                "max_files_per_partition": 2, "target_file_mb": 1
            },
            "auto_gc": {"keep_versions": 8, "min_age_seconds": 0},
        },
        {"bucket_by": 4},  # the bucket scope: touched buckets only
        {"partition_by": ["p"]},  # the partition scope, no key probe
    ],
    ids=["flat", "partitioned_clustered_indexed", "auto_maintained",
         "bucketed", "partitioned"],
)
def test_random_walk_matches_model(spark, tmp_path, cfg):
    rng = random.Random(20260815)
    tbl = AtomicParquetTable(
        spark, str(tmp_path / "t"), keys=["k"], **cfg
    )
    model = Model()
    cols = ["k", "v", "ts"] + (["p"] if "partition_by" in cfg else [])
    ts_counter = [0]

    def next_ts() -> int:
        ts_counter[0] += 1
        return ts_counter[0]

    def mk_rows(keys: list[int], stale: bool = False) -> list[dict]:
        rows = []
        for k in keys:
            ts = -next_ts() if stale else next_ts()
            r = {"k": k, "v": f"v{ts}", "ts": ts}
            if "p" in cols:
                r["p"] = rng.randrange(3)  # keys may MOVE partitions
            if "extra" in cols:
                r["extra"] = float(ts) / 2
            rows.append(r)
        return rows

    def op_upsert(stale: bool = False) -> None:
        batch = mk_rows(rng.sample(KEYS, rng.randint(1, 6)), stale=stale)
        # batch-internal duplicate key: keep_latest must pick max ts
        if not stale and rng.random() < 0.5 and batch:
            dup = dict(batch[0])
            dup["ts"] = next_ts()
            dup["v"] = f"v{dup['ts']}"
            if "extra" in cols:
                dup["extra"] = float(dup["ts"]) / 2
            batch.append(dup)
        tbl.upsert(_df(spark, batch, cols), [F.col("ts").desc()])
        model.upsert(batch)

    def op_delete() -> None:
        doomed = rng.sample(KEYS, rng.randint(1, 4))  # some may not exist
        tbl.delete_keys(_df(spark, [{"k": k} for k in doomed], ["k"]))
        model.delete(doomed)

    def op_merge() -> None:
        matched = rng.choice(["update", "delete", "skip"])
        not_matched = rng.choice(["insert", "skip"])
        src = mk_rows(rng.sample(KEYS, rng.randint(1, 5)))
        tbl.merge_into(
            _df(spark, src, cols),
            when_matched=matched,
            when_not_matched=not_matched,
        )
        model.merge(src, matched, not_matched)

    def retained_versions() -> list[int]:
        """Versions whose manifest is still on disk (auto_gc in the
        `auto_maintained` config expires old ones DURING the walk)."""
        from stupp_exclusion_etl_spark.sinks.atomic import (
            MANIFEST_DIR,
            _list_names,
        )

        return sorted(
            int(n[1:-5])
            for n in _list_names(spark, f"{tbl.path}/{MANIFEST_DIR}")
            if n.startswith("v") and n.endswith(".json")
        )

    # -- the walk: random ops with forced-coverage steps ---------------
    op_upsert()  # table must exist before delete/merge
    checkpoint_after = {}
    for step in range(2, 21):
        if step == 8:
            cols.append("extra")  # schema evolution: add-column upsert
            op_upsert()
        elif step == 10:
            op_upsert(stale=True)  # last-write-wins must keep old rows
        elif step == 12:
            v = tbl.compact()
            checkpoint_after["pre_compact"] = checkpoint_after.get(
                "pre_compact", max(model.snapshots)
            )
            checkpoint_after["post_compact"] = v
        elif step == 14:
            # restore target must still be retained (auto_gc expires)
            live = sorted(set(model.snapshots) & set(retained_versions()))
            target = rng.choice(live)
            v = tbl.restore(target)
            model.rows = {
                k: dict(r) for k, r in model.snapshots[target].items()
            }
        else:
            rng.choice([op_upsert, op_delete, op_merge])()
        v = tbl.current_version()
        model.freeze(v)
        _assert_read_equals(tbl.read(), model.rows, f"step {step} (v{v})")

    # -- time travel: every RETAINED version replays its snapshot ------
    retained_now = set(retained_versions())
    for v in sorted(set(model.snapshots) & retained_now):
        _assert_read_equals(
            tbl.read(version=v), model.snapshots[v], f"time travel v{v}"
        )

    # -- change feed equals the model's semantic diff ------------------
    versions = sorted(set(model.snapshots) & retained_now)
    assert len(versions) >= 4, "walk left too few retained versions"
    pairs = [(versions[0], versions[-1])]
    pairs += [tuple(sorted(rng.sample(versions, 2))) for _ in range(5)]
    if (
        "post_compact" in checkpoint_after
        and {*checkpoint_after.values()} <= retained_now
        and checkpoint_after["pre_compact"] in model.snapshots
    ):
        pairs.append(
            (checkpoint_after["pre_compact"], checkpoint_after["post_compact"])
        )
    for a, b in pairs:
        if a == b:
            continue
        exp = model.diff(a, b)
        got = {}
        for row in tbl.changes(a, b).collect():
            d = row.asDict()
            got[d["k"]] = d
        assert sorted(got) == sorted(exp), (
            f"changes({a},{b}) keys: got {sorted(got)} exp {sorted(exp)}"
        )
        for k, (ctype, carried) in exp.items():
            d = got[k]
            assert d["_change_type"] == ctype, (a, b, k, d, ctype)
            for c in d:
                if c in ("_change_type",):
                    continue
                assert d[c] == carried.get(c), (
                    f"changes({a},{b}) key {k} col {c}: "
                    f"got {d[c]!r} exp {carried.get(c)!r}"
                )
    # a compaction-only interval is a pure physical rewrite: empty feed
    if (
        "post_compact" in checkpoint_after
        and {*checkpoint_after.values()} <= retained_now
    ):
        a = checkpoint_after["pre_compact"]
        b = checkpoint_after["post_compact"]
        if a != b:
            assert tbl.changes(a, b).count() == 0

    # -- retention: expired manifests raise the typed error ------------
    head = tbl.current_version()
    if tbl.auto_gc is None:
        tbl.gc(keep_versions=3, min_age_seconds=0)
    # (the auto_maintained config has been gc'ing after every commit)
    post_gc = set(retained_versions())
    expired = sorted(set(model.snapshots) - post_gc)
    assert expired, "walk too short to exercise gc expiry"
    for v in sorted(set(model.snapshots) & post_gc):
        _assert_read_equals(
            tbl.read(version=v), model.snapshots[v], f"post-gc v{v}"
        )
    with pytest.raises(VersionExpiredError):
        tbl.read(version=expired[-1])
    with pytest.raises(VersionExpiredError):
        tbl.changes(expired[-1], head).collect()

    # -- the table keeps working after gc -------------------------------
    op_upsert()
    model.freeze(tbl.current_version())
    _assert_read_equals(tbl.read(), model.rows, "post-gc upsert")
