"""Benchmark of record for the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve_lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The command starts a fresh
``session.get_spark`` session on ``local[nproc]``, builds the workload's
inputs from ``--seed`` during set-up, then calls the engine's public
functions in a closed loop with one client for ``--seconds`` seconds of
work, checks every answer, and prints one ``name value unit`` line per
metric followed by the result line (JSON). ``--trace 1`` runs the same
workload with spans around each layer call and reports per-layer
metrics instead of end-to-end ones. Exit status is 0 only when every
answer was correct; it is 2 when the engine package is missing.

Everything the run writes lives under ``.perfbench/`` in the checkout:
the per-run scratch directory (Spark local dirs, tables, generated
inputs; deleted at exit) and ``.perfbench/runs/<workload>-seed<n>-trace<t>.json``
with the run's detail (every metric, input properties, every
operation's latency, the share of CPU time the hypervisor stole during
the loop, spans).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

import spans

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("serve_lookup", "batch_pipeline")


class Ctx:
    """What a workload gets: the session, the tracer, its scratch dir and
    the bookkeeping of operations, answers and metrics."""

    def __init__(self, spark, tracer, work: Path, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.ops: list[list] = []  # [kind, seconds, ok]
        self.problems: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}  # workload end-to-end
        self.layer: dict[str, tuple[float, str]] = {}  # per-layer (traced)
        self.props: dict[str, object] = {}  # measured input properties
        self.aside_s = 0.0
        self.loop_s = 0.0
        self.cycle: dict[str, int] = {}  # the workload's CYCLE
        self._loop_t0 = 0.0

    def op(self, kind: str, fn):
        """Run one timed operation; an exception fails it."""
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception as e:  # noqa: BLE001 - any engine error fails the op
            out, ok = None, False
            self.problems.append(f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        self.ops.append([kind, time.perf_counter() - t0, ok])
        return out

    def verify(self, kind: str, problems: list[str]) -> None:
        """Attach an answer check to the last operation."""
        if problems:
            self.ops[-1][2] = False
            self.problems.append(f"{kind}: " + "; ".join(problems[:3]))

    @contextlib.contextmanager
    def aside(self):
        """Untimed work inside the loop (input generation, answer checks):
        excluded from the loop's measured seconds."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t0

    def start_loop(self) -> None:
        self.ops.clear()
        self.aside_s = 0.0
        if self.tracer.enabled:
            self.tracer.start_loop()
        self._loop_t0 = time.perf_counter()

    def busy_s(self) -> float:
        return time.perf_counter() - self._loop_t0 - self.aside_s

    def running(self, cycle: int) -> bool:
        """Whether to start another operation of a loop that runs whole
        cycles of ``cycle`` operations: always inside a cycle; at the end
        of one, only if another as long as the last would end within
        ``--seconds``. The first cycle always runs, so every run times
        every kind."""
        n = len(self.ops)
        if n % cycle or n == 0:
            return True
        return self.busy_s() + sum(o[1] for o in self.ops[-cycle:]) <= self.seconds


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    """Fresh session with every scratch path inside ``work``. The driver
    keeps the engine's default heap; its GC log gives the heap in use."""
    from stupp_exclusion_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=nproc(),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xlog:gc:file={work / 'gc.log'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> dict:
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    # every JVM the launch starts (spark-submit's launcher too) and every
    # Python temp file stay inside the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = str(tmp)
    module = __import__(args.workload)
    spark = None
    try:
        with spans.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work)
            # first action, which also starts one Python worker per core
            # (Arrow path), so every run holds the same worker pool
            spark.range(0, 64 * nproc(), numPartitions=nproc()).mapInPandas(
                lambda it: it, "id long").count()
            session_s = time.perf_counter() - t0
            tracer = spans.Tracer(spark.sparkContext) if args.trace else spans.NullTracer()
            ctx = Ctx(spark, tracer, work, args.seed, float(args.seconds))
            ctx.cycle = module.CYCLE
            state = module.setup(ctx)
            setup_s = time.perf_counter() - t0
            ctx.start_loop()
            cpu0 = cpu_ticks()
            module.loop(ctx, state)
            ctx.loop_s = ctx.busy_s()
            cpu1 = cpu_ticks()
            ctx.props["loop_steal_share"] = round(
                (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)), 4)
            module.finish(ctx, state)
            ctx.metrics["heap_retained_mb"] = (retained_heap_mb(spark), "MB")
        ctx.props["peak_rss_mb_by_process"] = {
            k: round(v / 2**20, 1) for k, v in rss.peak_by_proc.items()}
        ctx.props["driver_heap"] = spark.conf.get("spark.driver.memory")
        ctx.metrics.update(gc_heap(work / "gc.log"))
        return report(args, ctx, rss.peak_bytes, session_s, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def cpu_ticks() -> list[int]:
    """The machine's CPU time by state from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal). Steal is time the
    hypervisor ran something else on this machine's virtual CPUs: the
    loop's share of it is kept in the run's detail next to its timings."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def retained_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection at the end of the
    run: what the engine keeps live (caches, table and index state). The
    first collection lets Spark's cleaner drop the broadcasts and shuffle
    state of frames no longer referenced; the second frees them."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


_GC_PAUSE = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")


def gc_heap(log: Path) -> dict[str, tuple[float, str]]:
    """Driver heap from its GC log: the most in use just before a
    collection (the peak between collections), the most left after one
    (what the engine kept live, plus old garbage not yet collected) and
    the most committed."""
    mb = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}
    used = live = committed = 0.0
    with contextlib.suppress(OSError):
        for m in _GC_PAUSE.finditer(log.read_text()):
            used = max(used, int(m[1]) * mb[m[2]])
            live = max(live, int(m[3]) * mb[m[4]])
            committed = max(committed, int(m[5]) * mb[m[6]])
    return {"peak_heap_used_mb": (used, "MB"), "peak_heap_live_mb": (live, "MB"),
            "heap_committed_mb": (committed, "MB")}


def cycle_ms(ops: list[list], cycle: dict[str, int]) -> float:
    """One cycle of the workload's mix: each kind's median latency times
    its count in the cycle. Every kind weighs in by its share of the loop,
    where the median of all operations sees only the most frequent kind."""
    by_kind: dict[str, list[float]] = {}
    for kind, s, _ in ops:
        by_kind.setdefault(kind, []).append(s)
    return 1000 * sum(n * spans.p50(by_kind[k]) for k, n in cycle.items() if k in by_kind)


def report(args, ctx: Ctx, peak_bytes: int, session_s: float, setup_s: float) -> dict:
    loop_s = ctx.loop_s
    ops = ctx.ops
    lat = [o[1] for o in ops]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o[2])
    detail = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_bytes / 2**20, "MB"),
        "cycle_ms": (cycle_ms(ops, ctx.cycle), "ms"),
        "op_p50_ms": (1000 * spans.p50(lat) if lat else 0.0, "ms"),
        "ops_per_s": (attempted / loop_s if loop_s > 0 else 0.0, "1/s"),
        "failed_op_ratio": (failed / attempted if attempted else 1.0, "ratio"),
    }
    detail.update(ctx.metrics)
    tail = spans.tail(lat)
    if tail:
        detail["op_tail_ms"] = (1000 * tail[1], "ms")
        ctx.props["op_tail_pct"] = tail[0]
    props = {"nproc": nproc(), "ops": attempted,
             "loop_s": round(loop_s, 3), **ctx.props}
    out = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
        "properties": props,
        "problems": ctx.problems,
        "ops": [[k, round(1000 * s, 2), ok] for k, s, ok in ops],
        "attempted": attempted, "failed": failed,
        "correct": failed == 0 and not ctx.problems and attempted > 0,
    }
    if args.trace:
        tr = ctx.tracer
        # shares of the loop's measured seconds; "bench" is the rest (the
        # benchmark's own input conversion and everything outside a span)
        layer_s = tr.layer_self_s()
        layer_s["bench"] = loop_s - sum(v for k, v in layer_s.items() if k != "bench")
        layer = {
            "session.start_s": (session_s, "s"),
            **{f"share.{k}": (100.0 * v / loop_s if loop_s else 0.0, "%")
               for k, v in layer_s.items()},
            **{f"spark.{k}": (float(v), "count") for k, v in tr.totals().items()},
            "trace.overhead_pct": (
                100.0 * (tr.bookkeeping_s + tr.forced_s) / loop_s if loop_s else 0.0, "%"),
        }
        layer.update(ctx.layer)
        out["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        out["spans_by_name"] = tr.by_name()
        out["spans"] = tr.dump()
    return out


def result_line(out: dict, trace: bool) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json names. A
    per-layer metric of a layer the workload does not call reads 0."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    section = "per_layer" if trace else "end_to_end"
    source = out[section]
    return {
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            m["name"]: source.get(m["name"], {"value": 0.0, "unit": m["unit"]})
            for m in spec[section]
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import stupp_exclusion_etl_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not (ROOT / "BENCHMARK.json").is_file():
        print(f"perfbench: no BENCHMARK.json in {ROOT}", file=sys.stderr)
        return 2

    out = run(args)
    runs = ROOT / ".perfbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (runs / name).write_text(json.dumps(out, indent=1, default=str))
    for section in ("end_to_end", "per_layer"):
        for k, m in out.get(section, {}).items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    for p in out["problems"]:
        print(f"FAILED {p}")
    print(json.dumps(result_line(out, bool(args.trace))))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
