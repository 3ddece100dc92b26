"""The reference's own pipeline as serve_lookup's writes: scraped pages
through ``sources.ingest.parse_form_inputs`` and guarded
``functions.coercion``, malformed pages split off with
``quarantine_split``, the rest committed with
``AtomicParquetTable.upsert``; a ``delete_keys`` every few batches.
"""

from __future__ import annotations

import io
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import p50

TABLE_OPTIONS = dict(
    keys=["ID"],
    index_by=gen.GSI_COLUMNS,
    cluster_by=["ID"],
    auto_compact={"max_files_per_partition": 8, "target_file_mb": 64},
    # one writer, so nothing is in flight when GC runs; two retained
    # versions make GC run within a ten-second loop
    auto_gc={"keep_versions": 2, "min_age_seconds": 0},
)


def typed_pages(spark, pages, tracer, op: int):
    """Pages -> (typed frame, quarantine reason, parsed frame) through the
    ingest layer."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from stupp_exclusion_etl_spark.functions.coercion import typify_double, typify_long
    from stupp_exclusion_etl_spark.sources.ingest import parse_form_inputs, promote

    with tracer.span("bench", "input", op):
        raw = spark.createDataFrame(pages, "url string, html string, seq long")
    parsed = raw.select(
        parse_form_inputs(F.col("html"), F.col("url")).alias("attrs"), "seq")
    if tracer.enabled:
        parsed = parsed.persist()
        tracer.force("sources.ingest", "parse", parsed, op)
    strings = promote(parsed, "attrs", {
        "Company": T.StringType(), "Product": T.StringType(), "PublicStatus": T.StringType()})
    attr = lambda k: F.element_at(F.col("attrs"), k)  # noqa: E731
    numeric = {col: key for key, col in gen.PAGE_KEYS.items()
               if col not in ("Company", "Product", "PublicStatus")}
    typed = strings.select(*[
        (typify_long(attr(numeric[c])) if c in ("ID", "HTSUSCode")
         else typify_double(attr(numeric[c]))).alias(c)
        if c in numeric else F.col(c)
        for c in gen.RECORD_COLUMNS
    ])
    if tracer.enabled:
        tracer.force("functions.coercion", "typify", typed, op)
    any_null = None
    for c in numeric:
        if c != "ID":
            any_null = F.col(c).isNull() if any_null is None else any_null | F.col(c).isNull()
    reason = (F.when(F.col("ID").isNull(), "no_id")
              .when(any_null, "bad_number").otherwise("ok"))
    return typed, reason, parsed


def apply_batch(ctx, table, batch: gen.Batch, stats: dict) -> None:
    """One batch through ingest and the sink; raises if the quarantine
    did not catch exactly the planted malformed pages."""
    from pyspark.sql import functions as F

    from stupp_exclusion_etl_spark.sources.ingest import quarantine_split

    spark, tr, op = ctx.spark, ctx.tracer, batch.index
    if batch.delete_ids:
        with tr.span("bench", "input", op):
            doomed = spark.createDataFrame([(k,) for k in batch.delete_ids], "ID long")
        with tr.span("sinks.atomic.write", "delete", op):
            t0 = time.perf_counter()
            table.delete_keys(doomed)
            stats["commit_ms"].append(1000 * (time.perf_counter() - t0))
        return
    typed, reason, parsed = typed_pages(spark, batch.pages, tr, op)
    with quarantine_split(typed, reason) as (clean, rejects):
        with tr.span("sinks.atomic.write", "upsert", op):
            t0 = time.perf_counter()
            table.upsert(clean, [F.col("seq").desc()])
            stats["commit_ms"].append(1000 * (time.perf_counter() - t0))
        with tr.span("sources.ingest", "quarantine", op):
            n_rejects = rejects.count()
    if tr.enabled:
        parsed.unpersist()
    stats["pages"] += len(batch.pages)
    stats["rows"] += len(batch.pages) - n_rejects
    if n_rejects != batch.n_malformed:
        raise ValueError(f"quarantined {n_rejects} pages, planted {batch.n_malformed}")


def dir_files(path: str) -> dict[str, int]:
    """Size of every file under a directory, by path."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def parquet_bytes(records) -> int:
    """Bytes of ``records`` written once as a single parquet file."""
    cols = list(zip(*records)) if records else [[] for _ in gen.RECORD_COLUMNS]
    t = pa.table({c: list(v) for c, v in zip(gen.RECORD_COLUMNS, cols)})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.tell()


def snapshot(table, path: str) -> dict:
    return {"version": table.current_version(), "files": dir_files(path)}


def write_layer_metrics(ctx, commits: list, stats: dict) -> None:
    """Per-layer metrics of the write path from the traced loop's commits:
    ``commits`` holds (batch, snapshot before, snapshot after, ms)."""
    tr, L = ctx.tracer, ctx.layer
    by = tr.by_name()

    def per_call(name: str) -> float:
        d = by.get(name)
        return 1000 * d["self_s"] / d["calls"] if d else 0.0

    L["sources.ingest.parse_ms"] = (per_call("sources.ingest.parse"), "ms")
    L["functions.coercion.typify_ms"] = (per_call("functions.coercion.typify"), "ms")
    L["sources.ingest.accept_ratio"] = (
        stats["rows"] / stats["pages"] if stats["pages"] else 0.0, "ratio")
    L["sinks.atomic.upsert_ms"] = (per_call("sinks.atomic.write.upsert"), "ms")
    L["sinks.atomic.delete_ms"] = (per_call("sinks.atomic.write.delete"), "ms")
    if not commits:
        return
    loop_ops = {b.index for b, *_ in commits}
    writes = [s for s in tr.spans if s.layer == "sinks.atomic.write" and s.op in loop_ops]
    L["sinks.atomic.jobs_per_commit"] = (sum(s.jobs for s in writes) / len(writes), "count")
    L["sinks.atomic.tasks_per_commit"] = (sum(s.tasks for s in writes) / len(writes), "count")
    added = [sum(a["files"][f] for f in a["files"].keys() - b["files"].keys())
             for _, b, a, _ in commits]
    upserts = [(c[0], n) for c, n in zip(commits, added) if not c[0].delete_ids]
    user = sum(parquet_bytes(b.good) for b, _ in upserts)
    L["sinks.atomic.write_amp"] = (sum(n for _, n in upserts) / user if user else 0.0, "ratio")
    L["sinks.atomic.files_added_per_commit"] = (
        sum(len(a["files"].keys() - b["files"].keys()) for _, b, a, _ in commits)
        / len(commits), "count")
    # A commit call that advanced the version by more than one also ran
    # an auto-compaction: its time and bytes beyond a plain commit's are
    # the maintenance cost seen from outside. A commit after which files
    # left the directory ran a GC.
    plain = [(ms, n) for (_, b, a, ms), n in zip(commits, added)
             if a["version"] - b["version"] == 1]
    maint = [(ms, n) for (_, b, a, ms), n in zip(commits, added)
             if a["version"] - b["version"] > 1]
    base_ms = p50([ms for ms, _ in plain]) if plain else 0.0
    base_bytes = p50([n for _, n in plain]) if plain else 0.0
    L["sinks.atomic.compactions"] = (float(len(maint)), "count")
    L["sinks.atomic.gcs"] = (float(sum(1 for _, b, a, _ in commits
                                       if b["files"].keys() - a["files"].keys())), "count")
    L["sinks.atomic.maintenance_ms"] = (sum(max(0.0, ms - base_ms) for ms, _ in maint), "ms")
    L["sinks.atomic.maintenance_bytes_rewritten"] = (
        float(sum(max(0.0, n - base_bytes) for _, n in maint)), "bytes")
