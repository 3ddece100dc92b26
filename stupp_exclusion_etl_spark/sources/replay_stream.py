"""Offset-tracked streaming source connector: replay the events table
as a rate-limited micro-batch stream — the streaming generalization of
the reference's repeated endpoint polling (A1/A17's scan loop run
forever), as a Spark Python ``SimpleDataSourceStreamReader``.

The source exposes the events parquet ordered by ``event_id`` and
serves at most ``rows_per_batch`` rows per micro-batch. Offsets are
``{"row": n}`` — the number of rows already served — so the
exactly-once contract is structural:

- a NEW query starts from ``initialOffset`` (row 0);
- a RESTARTED query resumes from the checkpointed offset — Spark calls
  ``read(start)`` with it and the source serves the next slice, never
  re-serving committed rows (checkpoint-recovery proof in
  tests/test_replay_stream.py);
- ``commit(end)`` is the retention hook — a real queue source trims its
  log here; the parquet replay has nothing to delete.

Pairs with sources/paged.py (batch read + pushdown) and
sinks/atomic.py's ``streaming_upsert_sink`` (exactly-once keyed upsert
per micro-batch) to round out the connector surface. At 100 TB the
identical class fronts a real offset-bearing endpoint (queue, CDC feed,
paged REST): ``read`` swaps the parquet slice for a fetch-from-cursor,
and Spark's checkpoint makes the cursor durable.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

# Declared column order — rows are yielded positionally, so slices must be
# selected by NAME in this order, never in the parquet file's physical order
# (a rewritten/reordered events.parquet would otherwise silently misassign
# columns, e.g. user_id into event_type).
_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


class EventsReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        self.path = options["path"]
        self.rows_per_batch = int(options.get("rows_per_batch", 500))
        self._table = None

    def _load(self):
        # Sorted once per reader instance; served in event_id order so
        # offsets are deterministic row positions.
        if self._table is None:
            import pyarrow.parquet as pq

            t = pq.read_table(self.path)
            # Normalize to schema order regardless of file layout.
            self._table = t.select(_EVENT_COLS).sort_by("event_id")
        return self._table

    def initialOffset(self) -> dict:  # noqa: N802 — API name
        return {"row": 0}

    def read(self, start: dict):
        t = self._load()
        lo = start["row"]
        hi = min(lo + self.rows_per_batch, t.num_rows)
        if lo >= hi:
            return iter([]), {"row": lo}
        sl = t.slice(lo, hi - lo)
        cols = [sl.column(i).to_pylist() for i in range(sl.num_columns)]
        return iter(list(zip(*cols))), {"row": hi}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        # Replay for failure recovery: deterministic, so re-slicing the
        # same range reproduces the exact batch.
        t = self._load()
        sl = t.slice(start["row"], end["row"] - start["row"])
        cols = [sl.column(i).to_pylist() for i in range(sl.num_columns)]
        return iter(list(zip(*cols)))

    def commit(self, end: dict) -> None:
        pass  # parquet replay retains everything; a queue would trim here


class EventsReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return EVENTS_SCHEMA

    def simpleStreamReader(self, schema):  # noqa: N802 — API name
        return EventsReplayStreamReader(self.options)


def register_replay_stream(spark) -> None:
    spark.dataSource.register(EventsReplayDataSource)
