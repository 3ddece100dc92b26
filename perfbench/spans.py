"""Spans, Spark job counters, a /proc memory sampler and percentiles.

Spans are recorded here, in the benchmark, around the calls it makes
into each engine layer; the engine package is not instrumented. Job,
task and failed-task counts come from public APIs only: each span runs
its Spark jobs under its own ``setJobGroup`` and reads them back through
``statusTracker()`` when it closes.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time
from dataclasses import dataclass, field

# Layer of each span-name prefix, for the self-time shares.
LAYERS = (
    "sources.ingest",
    "functions.coercion",
    "sinks.atomic.write",
    "sinks.atomic.read",
    "operators.ann_index",
    "operators.dedup",
    "functions.text",
    "plans",
    "bench",
)


@dataclass
class Span:
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced mode: spans cost one attribute lookup and nothing else."""

    enabled = False

    def span(self, layer: str, what: str, op: int = 0):
        return contextlib.nullcontext()

    def force(self, layer: str, what: str, df, op: int = 0) -> None:
        """Lazy layers are forced only in the traced run."""


class Tracer:
    """Traced mode: in-memory spans, each with its own Spark job group."""

    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0
        self.forced_s = 0.0
        # spans that start before this (set-up, warm-up) are kept in the
        # dump but left out of the loop's per-layer figures
        self.loop_t0 = float("inf")

    def start_loop(self) -> None:
        self.loop_t0 = time.perf_counter()
        self.bookkeeping_s = 0.0
        self.forced_s = 0.0

    def _loop_spans(self):
        return [(i, s) for i, s in enumerate(self.spans) if s.start >= self.loop_t0]

    @contextlib.contextmanager
    def span(self, layer: str, what: str, op: int = 0):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        sp = Span(f"{layer}.{what}", layer, op, parent, 0.0)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self.sc.setJobGroup(f"perfbench-{idx}", sp.name)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count_jobs(idx)
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{top}", self.spans[top].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def _count_jobs(self, idx: int) -> None:
        st = self.sc.statusTracker()
        sp = self.spans[idx]
        for jid in st.getJobIdsForGroup(f"perfbench-{idx}"):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    sp.tasks += stage.numCompletedTasks
                    sp.failed_tasks += stage.numFailedTasks

    def force(self, layer: str, what: str, df, op: int = 0) -> None:
        """Materialise every column of a lazy frame once, in a span of its
        own (the noop sink evaluates all expressions, unlike count())."""
        t0 = time.perf_counter()
        with self.span(layer, what, op):
            df.write.format("noop").mode("overwrite").save()
        self.forced_s += time.perf_counter() - t0

    # -- reporting ----------------------------------------------------

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def by_name(self) -> dict[str, dict]:
        """Per span name over the loop: calls, summed self and total
        seconds, jobs, tasks."""
        out: dict[str, dict] = {}
        for i, sp in self._loop_spans():
            d = out.setdefault(sp.name, {"calls": 0, "self_s": 0.0, "total_s": 0.0,
                                         "jobs": 0, "tasks": 0, "failed_tasks": 0})
            d["calls"] += 1
            d["self_s"] += self.self_time(i)
            d["total_s"] += sp.duration
            d["jobs"] += sp.jobs
            d["tasks"] += sp.tasks
            d["failed_tasks"] += sp.failed_tasks
        return out

    def layer_self_s(self) -> dict[str, float]:
        out = {layer: 0.0 for layer in LAYERS}
        for i, sp in self._loop_spans():
            out[sp.layer] = out.get(sp.layer, 0.0) + self.self_time(i)
        return out

    def totals(self) -> dict[str, int]:
        spans = [s for _, s in self._loop_spans()]
        return {
            "jobs": sum(s.jobs for s in spans),
            "tasks": sum(s.tasks for s in spans),
            "failed_tasks": sum(s.failed_tasks for s in spans),
        }

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "op": s.op, "parent": s.parent, "start": s.start,
             "end": s.end, "jobs": s.jobs, "tasks": s.tasks,
             "failed_tasks": s.failed_tasks}
            for s in self.spans
        ]


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_proc: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        by_proc = self.tree_rss()
        total = sum(by_proc.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_by_proc = by_proc

    def tree_rss(self) -> dict[str, int]:
        """Resident bytes of the process tree, by pid and command name. A
        child of the JVM still running the JVM binary is a fork on its way
        to exec: it shares every page with its parent and is skipped."""
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may hold spaces; fields resume after ')'
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out = {}
        frontier = [os.getpid()]
        while frontier:
            pid = frontier.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    out[f"{pid}:{f.read().strip()}"] = rss
            except OSError:
                continue
            for kid in children.get(pid, ()):
                try:
                    if exe.endswith("/java") and os.readlink(f"/proc/{kid}/exe") == exe:
                        continue
                except OSError:
                    continue
                frontier.append(kid)
        return out


def p50(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def tail(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """(percentile, value) at the highest whole percentile that leaves at
    least ``beyond`` samples above it, or None when the sample is too
    small to have a tail above its median."""
    s = sorted(values)
    n = len(s)
    for pct in range(99, 50, -1):
        idx = max(0, math.ceil(pct / 100 * n) - 1)
        if n - 1 - idx >= beyond:
            return pct, s[idx]
    return None
