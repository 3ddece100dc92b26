"""Persisted, CDC-maintained IVF index (SURVEY.md §2 B13 × C16 —
VERDICT r11 task #2: the last first-class LLM-pipeline lifecycle gap).

Every other ANN query in this engine computes its index artifacts
(centroids, cell assignments) INSIDE the query plan — correct, but a
100 TB serving path cannot re-derive its index per query, and a corpus
that churns (upserts + deletes, the reference's own re-scrape cycle,
/root/reference/__main__.py) needs the index to FOLLOW the churn
without full rebuilds. This module stores the IVF artifacts as atomic
tables of their own and maintains assignments incrementally from the
corpus table's change feed:

- ``centroids``   (cell, centroid)            — k rows, metadata-scale
- ``assignments`` (id, cell, embedding, cent_cos) — one row per corpus
  row, keyed by id, CLUSTERED by cell, so serving reads prune to the
  probed cells at both the chunk and the file level; cent_cos is the
  row's cosine against its frozen assigned centroid, stored so drift
  checks scan one column instead of re-joining the whole index
- ``meta``        (key, val)                  — the trained-at version,
  the build-time quality baseline, and the build-time applied cursor;
  each refresh advances the cursor ATOMICALLY inside its own final
  assignments commit (the manifest's ``batch_id``) instead of a
  separate meta commit, so state and cursor can never tear

Maintenance contract (the ``pipeline_incremental_dedup`` pattern):
``refresh()`` consumes ``corpus.changes(applied, head)`` — deletes
retire assignment rows, inserts/updates re-route ONLY the changed
vectors through the frozen centroids (k rows shipped with the task;
O(churn), never O(corpus)) — then advances the cursor. Because both state
tables are atomic, a crashed refresh replays idempotently (keyed
upserts/deletes) and the index itself has time travel and CDC.

Rebuild policy: ``quality()`` is the mean vector↔assigned-centroid
cosine; ``maybe_rebuild()`` re-trains and re-assigns (the only
O(corpus) operation) when quality decays more than ``max_drop`` below
the build-time baseline — index drift under churn is measured, not
guessed.

Trainers: ``modmean`` derives cell seeds deterministically
(id % k → positional mean), which makes the whole lifecycle
restatable in ANSI SQL for the DuckDB oracle; ``kmeans`` (pyspark.ml)
is the production trainer — same storage and maintenance, recall-
tested rather than oracle-hashed (clustering is partition-sensitive).

Serving and assignment run ONE numpy kernel (below) over flat Arrow
values. A query batch is collected (zero jobs on a LocalRelation; a
batch is serving-sized by contract), routed on the driver against the
memoized centroids, and its probed cells are read once, chunk/file-
pruned — the only Spark job; the top-k returns as a LocalRelation
frame. A probed read above ``_DRIVER_PROBE_BYTES`` is scored in Arrow
tasks instead, then merged per query: only the placement differs,
never the arithmetic. Build and refresh assign through the kernel in a
map-only Arrow pass, so every path agrees on NaN, NULL and ties.
"""

from __future__ import annotations

import sys
import zlib
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.window import Window

from stupp_exclusion_etl_spark.sinks.atomic import (
    _PROBE_BROADCAST_CAP,
    AtomicParquetTable,
    _local_df,
)

# Arrow tasks run this module's kernel: pickle it by value, so an
# executor needs no import path to the package (a local-mode worker
# resolves imports from its launch directory, not the driver's
# sys.path).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

#: Queries sampled for the once-per-batch recall escalation decision
#: (_batch_probe_escalation) — bounded however large the batch.
_BATCH_SAMPLE_QUERIES = 8

#: Values per kernel scoring block (_score): 8 MB of float64 pairs.
_BLOCK = 1 << 20

#: Serving runs the kernel on the driver while the probed read is at
#: most this many bytes (_probe_bytes), else in Arrow tasks: the measured
#: crossover on 4 local cores at 32-768 dimensions, far below
#: spark.driver.maxResultSize.
_DRIVER_PROBE_BYTES = 32 << 20

_META_APPLIED = "applied_version"
_META_TRAINED = "trained_version"
_META_BASELINE_Q = "baseline_quality"


# -- the kernel ---------------------------------------------------------
#
# Every cosine is accumulated left to right in float64 from 0.0, the
# operation order of functions.vectors.dot/cosine, so each value is
# bit-identical to the Catalyst expression (a BLAS matmul sums pairwise
# and can differ in the last ulp). One set of rules for every caller:
# - NULL never wins: a zero norm, or a NULL, ragged or NULL-element
#   vector, scores NULL (try_divide / zip_with);
# - NaN ranks above every double, as Spark orders it;
# - assignment and routing ties go to the lowest cell;
# - top-k orders by Spark's round(cos, 6) descending, then id
#   ascending, exact under any number of ties.

_MICRO = Decimal("1e-6")
_WIDE = Context(prec=400)  # any double quantizes to 1e-6 exactly


def _parts(arr) -> tuple:
    """(values, offsets, lengths, ok) of an Arrow list array of floats
    or doubles. ``ok`` is False for a NULL row and for a row holding a
    NULL element — Spark's zip_with dot is NULL for both."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy()
    vals = arr.values
    ok = ~arr.is_null().to_numpy(zero_copy_only=False)
    if vals.null_count:
        nul = vals.is_null().to_numpy(zero_copy_only=False)
        held = np.r_[0, np.cumsum(nul)]
        ok &= held[offs[1:]] == held[offs[:-1]]
    return vals.to_numpy(zero_copy_only=False), offs, np.diff(offs), ok


def _rows(parts, idx, d: int):
    """(len(idx)×d float64 matrix, ok) of rows ``idx`` at width d. A
    row of any other length is not ok: zip_with pads the shorter array
    with NULLs, so Spark's dot is NULL."""
    vals, offs, lens, ok = parts
    ok = ok[idx] & (lens[idx] == d)
    m = np.zeros((len(idx), d))
    if d and ok.any():
        m[ok] = vals[offs[idx][ok][:, None] + np.arange(d)]
    return m, ok


def _dots(a, b):
    """a·bᵀ, each dot summed left to right from 0.0 (dot()'s order)."""
    acc = np.zeros((len(a), len(b)))
    for j in range(a.shape[1]):
        acc += a[:, j, None] * b[None, :, j]
    return acc


def _norms(a):
    acc = np.zeros(len(a))
    for j in range(a.shape[1]):
        acc += a[:, j] * a[:, j]
    return np.sqrt(acc)


def _cosines(a, ai, b, bi):
    """cosine(a[ai], b[bi]) as a len(ai)×len(bi) float64 matrix plus
    its NULL mask; a pair is scored per distinct length of ``b``'s rows
    (in practice one)."""
    cos = np.zeros((len(ai), len(bi)))
    null = np.ones(cos.shape, dtype=bool)
    blens, bok = b[2][bi], b[3][bi]
    with np.errstate(all="ignore"):
        for d in np.unique(blens[bok]):
            cols = np.flatnonzero(bok & (blens == d))
            am, aok = _rows(a, ai, int(d))
            bm, _ = _rows(b, bi[cols], int(d))
            den = _norms(am)[:, None] * _norms(bm)[None, :]
            cos[:, cols] = _dots(am, bm) / den
            null[:, cols] = ~aok[:, None] | (den == 0)
    return cos, null


def _rank(cos, null):
    """Sort keys of Spark's ``DESC NULLS LAST`` double order: class 0
    is NaN (above every double), 1 a number (key −cos), 2 NULL."""
    cls = np.where(null, 2, np.where(np.isnan(cos), 0, 1))
    return cls, np.where(cls == 1, -cos, 0.0)


def _best(cos, null):
    """Each row's winning column; columns are in ascending cell order,
    so ties take the lowest cell, and an all-NULL row takes column 0."""
    cls, key = _rank(cos, null)
    win = cls == cls.min(axis=1, keepdims=True)
    key = np.where(win, key, np.inf)
    return np.argmax(win & (key == key.min(axis=1, keepdims=True)), axis=1)


def _top(group, cos, null, ids, k: int):
    """Indices of each group's first k entries, ordered by (group,
    rank, id) — the per-query ``row_number() <= k`` of a window over
    (cos DESC NULLS LAST, id ASC)."""
    if not len(group):
        return np.zeros(0, dtype=np.int64)
    if ids.dtype == object:  # strings order by code point, as UTF-8
        ids = np.unique(ids, return_inverse=True)[1]
    cls, key = _rank(cos, null)
    order = np.lexsort((ids, key, cls, group))
    g = group[order]
    at = np.arange(len(g))
    first = np.r_[True, g[1:] != g[:-1]]
    start = np.maximum.accumulate(np.where(first, at, 0))
    return order[at - start < k]


def _round6(x):
    """Spark's round(x, 6) on doubles: BigDecimal.valueOf(x) — the
    shortest decimal of x — set to scale 6 HALF_UP (away from zero),
    NaN and ±inf passed through, a zero result as +0.0. numpy's
    rint(x·1e6)/1e6 rounds halves to even and misreads near-halves, so
    values whose scaled fraction sits near one half go through exact
    decimal arithmetic; the rest round in float64 exactly."""
    x = np.asarray(x, dtype=np.float64)
    out = x.copy()
    fin = np.isfinite(x)
    with np.errstate(all="ignore"):
        u = np.abs(x) * 1e6
        f = u - np.floor(u)
        easy = fin & (u < 2.0**52) & (np.abs(f - 0.5) > 1e-9 + u * 1e-14)
        out[easy] = np.copysign(np.floor(u + 0.5), x)[easy] / 1e6 + 0.0
    for i in np.flatnonzero(fin & ~easy):
        d = Decimal(repr(float(x[i])))
        out[i] = float(d.quantize(_MICRO, ROUND_HALF_UP, _WIDE)) + 0.0
    return out


def _score(q, by_cell, ids, cells, vecs, k: int):
    """Each query's top k among the candidate rows of the cells it was
    routed to (``by_cell``: cell -> query indices). Returns (query
    index, row index, cos_sim, NULL mask) in per-query rank order,
    cos_sim rounded like Spark's round(cos, 6). Pairs are formed per
    cell in blocks of at most ``_BLOCK`` values and cut to each query's
    top k at once, so the work is exactly the routed pairs and the
    memory is one block plus k rows per query and block."""
    c = _parts(vecs)
    d = int(q[2].max(initial=1))
    kept = [(np.zeros(0, np.int64),) * 2 + (np.zeros(0), np.zeros(0, bool))]
    for cell, qs in by_cell.items():
        rows = np.flatnonzero(cells == cell)
        for r in np.array_split(rows, 1 + len(rows) * (len(qs) + d) // _BLOCK):
            cos, null = (m.ravel() for m in _cosines(c, r, q, qs))
            qi, ri = np.tile(qs, len(r)), np.repeat(r, len(qs))
            cos[~null] = _round6(cos[~null])
            top = _top(qi, cos, null, ids[ri], k)
            kept.append((qi[top], ri[top], cos[top], null[top]))
    qi, ri, cos, null = (np.concatenate(x) for x in zip(*kept))
    top = _top(qi, cos, null, ids[ri], k)
    return qi[top], ri[top], cos[top], null[top]


class PersistedIvfIndex:
    """IVF index artifacts as atomic tables, maintained from the
    corpus table's change feed. See module docstring for the
    lifecycle; tests/test_ann_index.py pins the contracts."""

    def __init__(
        self,
        spark: SparkSession,
        corpus_path: str,
        index_root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k_cells: int = 8,
        n_probe: int = 3,
        trainer: str = "modmean",
        pq: tuple[int, int] | None = None,
        target_cell_rows: int | None = None,
    ) -> None:
        if trainer not in ("modmean", "kmeans"):
            raise ValueError(f"unknown trainer {trainer!r}")
        if pq is not None:
            m, kc = pq
            if m < 1 or kc < 2:
                raise ValueError(f"pq=(m, k) must have m>=1, k>=2: {pq}")
        if target_cell_rows is not None and target_cell_rows < 1:
            raise ValueError(
                f"target_cell_rows must be >= 1: {target_cell_rows}"
            )
        self.spark = spark
        self.id_col = id_col
        self.vec_col = vec_col
        # target_cell_rows (VERDICT r14 next-round #1): serving cost is
        # n_probe × cell_rows PER QUERY, so a fixed k_cells makes cells
        # — and every probe — grow linearly with the corpus (the sf10
        # sweep's 86× batch-serve blowup: the query batch AND each cell
        # both scaled 10×). When set, build()/rebuild derive
        # k_cells = max(k_cells, ceil(corpus_rows / target_cell_rows))
        # from the manifest's row stats, so probed-cell size stays
        # ~constant at any corpus scale; ``k_cells`` becomes the FLOOR
        # (small corpora keep the configured layout exactly — nothing
        # changes below k_cells × target_cell_rows rows).
        self.k_cells = k_cells
        self._k_floor = k_cells
        self.target_cell_rows = target_cell_rows
        self.n_probe = n_probe
        self.trainer = trainer
        # optional product quantization: the serving layout stores m
        # small ints per vector alongside its cell, and ADC serving
        # reads ONLY (id, cell, codes) — at 100 TB the probed-cell
        # scan is m bytes/vector instead of the raw embedding
        self.pq = pq
        self.corpus = AtomicParquetTable(spark, corpus_path, keys=[id_col])
        self.centroids = AtomicParquetTable(
            spark, index_root.rstrip("/") + "/centroids", keys=["cell"]
        )
        # clustered by cell: the serving read prunes to probed cells
        # at chunk AND file level; small cluster_files keeps per-cell
        # file counts low so a probe reads a handful of files
        self.assignments = AtomicParquetTable(
            spark, index_root.rstrip("/") + "/assignments",
            keys=[id_col], cluster_by=["cell"], cluster_files=4,
            auto_compact={"max_files_per_partition": 16,
                          "target_file_mb": 64},
        )
        self.meta = AtomicParquetTable(
            spark, index_root.rstrip("/") + "/meta", keys=["key"]
        )
        self.codebook = (
            AtomicParquetTable(
                spark, index_root.rstrip("/") + "/codebook",
                keys=["s", "c"],
            )
            if pq is not None
            else None
        )

    # -- training -----------------------------------------------------

    def _train_centroids(self, snapshot: DataFrame) -> DataFrame:
        """(cell, centroid array<double>) from the snapshot. modmean:
        positional mean per (id % k) seed group — deterministic and
        SQL-restatable. kmeans: pyspark.ml, seeded (deterministic per
        layout, not across engines)."""
        if self.trainer == "modmean":
            from stupp_exclusion_etl_spark.operators.similarity import (
                mean_centroids,
            )

            seeded = snapshot.withColumn(
                "cell",
                (F.col(self.id_col) % self.k_cells).cast("int"),
            )
            return mean_centroids(seeded, "cell", self.vec_col)
        from stupp_exclusion_etl_spark.operators.similarity import (
            ivf_kmeans_cells,
        )

        _assigned, cents = ivf_kmeans_cells(
            snapshot, k=self.k_cells, vec_col=self.vec_col
        )
        return cents

    def _centroids(self) -> tuple:
        """(cells ascending, centroid kernel parts, cell dtype
        simpleString) of the FROZEN centroid table — memoized per
        centroids VERSION. The table only changes on build/rebuild, so
        every route and assign after the first reuses the collected k
        rows instead of paying a read+collect job; a rebuild bumps the
        version and invalidates (guide §1.2: don't recompute what you
        already have)."""
        v = self.centroids.current_version()
        if v is None:
            raise ValueError("index not built: no centroids committed")
        cached = getattr(self, "_cent_cache", None)
        if cached is None or cached[0] != v:
            cents = self.centroids.read(version=v)
            self._cache_centroids(
                v,
                cents.select("cell", "centroid").collect(),
                cents.schema["cell"].dataType.simpleString(),
            )
        if not len(self._cent_cache[1]):
            raise ValueError("index not built: centroid table is empty")
        return self._cent_cache[1:]

    def _cache_centroids(self, v: int, rows, cell_t: str) -> None:
        rows = sorted(rows, key=lambda r: r[0])
        self._cent_cache = (
            v,
            np.asarray([r[0] for r in rows]),
            _parts(pa.array([r[1] for r in rows], pa.list_(pa.float64()))),
            cell_t,
        )

    def _assign(self, vectors: DataFrame, stored: bool = False) -> DataFrame:
        """Route vectors to their nearest frozen centroid: (id, cell,
        vector, cent_cos) through the kernel, one map-only Arrow pass
        (zero shuffle; the plan carries no centroid literals, so its
        size is O(1) in k). ``cent_cos`` is the cosine against the
        chosen cell, NULL when every cosine is NULL (zero, NULL, ragged
        or NULL-element vectors keep the lowest cell). With ``stored``
        the rows already carry a ``cell``: it is kept, and cent_cos is
        the cosine against that cell's centroid (NULL for a cell the
        centroid table lacks)."""
        cells, cents, cell_t = self._centroids()
        cols = [self.id_col] + (["cell"] if stored else []) + [self.vec_col]
        src = vectors.select(*cols)
        id_t = src.schema[self.id_col].dataType.simpleString()
        vec_t = src.schema[self.vec_col].dataType.simpleString()
        cell_pa = to_arrow_type(T._parse_datatype_string(cell_t))
        names = [self.id_col, "cell", self.vec_col, "cent_cos"]
        every = np.arange(len(cells))

        def route(batches):
            for b in batches:
                n = b.num_rows
                emb = b.column(b.num_columns - 1)
                cos, null = _cosines(_parts(emb), np.arange(n), cents, every)
                if stored:
                    cell = b.column(1)
                    got = cell.to_numpy(zero_copy_only=False)
                    j = np.minimum(np.searchsorted(cells, got), len(cells) - 1)
                    null = null | (cells[j] != got)[:, None]
                else:
                    j = _best(cos, null)
                    cell = pa.array(cells[j], type=cell_pa)
                r = np.arange(n)
                yield pa.RecordBatch.from_arrays(
                    [
                        b.column(0),
                        cell,
                        emb,
                        pa.array(cos[r, j], pa.float64(), mask=null[r, j]),
                    ],
                    names=names,
                )

        return src.mapInArrow(
            route,
            f"{self.id_col} {id_t}, cell {cell_t}, "
            f"{self.vec_col} {vec_t}, cent_cos double",
        )

    def _train_codebook(self, snapshot: DataFrame) -> list:
        """codebook[s][c]: modmean seeds subvector centroids from the
        k smallest-id vectors (deterministic, SQL-restatable — the
        generalization of operators.similarity.pq_seed_codebook's
        ids-1..k convention); kmeans learns them per subspace."""
        m, kc = self.pq
        if self.trainer == "kmeans":
            from stupp_exclusion_etl_spark.operators.similarity import (
                pq_kmeans_codebook,
            )

            return pq_kmeans_codebook(
                snapshot, m=m, k=kc, vec_col=self.vec_col
            )
        rows = (
            snapshot.select(self.id_col, self.vec_col)
            .orderBy(self.id_col)
            .limit(kc)
            .collect()
        )
        if len(rows) < kc:
            raise ValueError(
                f"PQ needs >= {kc} corpus vectors to seed, got {len(rows)}"
            )
        dim = len(rows[0][1])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by pq m={m}")
        d = dim // m
        return [
            [
                [float(x) for x in rows[c][1][s * d : (s + 1) * d]]
                for c in range(kc)
            ]
            for s in range(m)
        ]

    def _store_codebook(self, book: list, ts: int) -> None:
        rows = [
            (s, c, book[s][c], ts)
            for s in range(len(book))
            for c in range(len(book[s]))
        ]
        # _local_df: LocalRelation literal batch — the commit's key
        # probe and broadcast builds run zero Spark jobs (guide §1.2)
        self.codebook.upsert(
            _local_df(
                self.spark, rows,
                "s int, c int, centroid array<double>, ts long",
            ),
            [F.col("ts").desc()],
        )

    def _load_codebook(self) -> list:
        """The persisted codebook as codebook[s][c] — an m×k-row
        collect, metadata-scale like the centroid probe."""
        rows = self.codebook.read()
        if rows is None:
            raise ValueError("index not built: no codebook committed")
        got = rows.select("s", "c", "centroid").collect()
        m = 1 + max(r.s for r in got)
        kc = 1 + max(r.c for r in got)
        book = [[None] * kc for _ in range(m)]
        for r in got:
            book[r.s][r.c] = [float(x) for x in r.centroid]
        return book

    def _with_codes(self, routed: DataFrame, vectors: DataFrame, book):
        """Join PQ codes (frozen codebook, map-only encode) onto the
        routed assignment rows."""
        from stupp_exclusion_etl_spark.operators.similarity import (
            pq_encode,
        )

        codes = pq_encode(
            vectors, book, id_col=self.id_col, vec_col=self.vec_col
        )
        return routed.join(codes, self.id_col)

    def _put_meta(self, pairs: dict[str, float], ts: int) -> None:
        # _local_df: see _store_codebook — a zero-probe-job commit
        parent = self.meta.current_version()
        v = self.meta.upsert(
            _local_df(
                self.spark,
                [(k, float(v), ts) for k, v in pairs.items()],
                "key string, val double, ts long",
            ),
            [F.col("ts").desc()],
        )
        # keep the per-version value memo (see _get_meta) warm: the
        # committed state is (what we knew at parent) + pairs only when
        # our commit is parent's direct successor — a foreign commit in
        # between holds values this handle never saw
        cached = getattr(self, "_meta_cache", None) or (None, {})
        if v == (0 if parent is None else parent + 1) and cached[0] == parent:
            base = dict(cached[1]) if parent is not None else {}
            base.update({k: float(x) for k, x in pairs.items()})
            self._meta_cache = (v, base)

    def _get_meta(self, key: str) -> float | None:
        """Meta value lookup, memoized per meta-table VERSION: the
        cursor/baseline reads every refresh and drift check make are
        driver-side dict hits instead of a filter+collect job each
        (guide §1.2); any foreign commit bumps the version and
        invalidates. A fresh handle pays one collect, then rides the
        memo."""
        v = self.meta.current_version()
        if v is None:
            return None
        cached = getattr(self, "_meta_cache", None)
        if cached is None or cached[0] != v:
            vals = {
                r[0]: float(r[1])
                for r in self.meta.read(version=v)
                .select("key", "val")
                .collect()
            }
            self._meta_cache = (v, vals)
        return self._meta_cache[1].get(key)

    # -- lifecycle ----------------------------------------------------

    def build(self) -> dict:
        """Train centroids on the current corpus snapshot, assign every
        vector, record the cursor + quality baseline. The only
        O(corpus) operation besides an explicit rebuild."""
        head = self.corpus.current_version()
        snap = self.corpus.read(version=head)
        if snap is None or snap.isEmpty():
            raise ValueError("empty corpus: nothing to index")
        if self.target_cell_rows is not None:
            # scale-adaptive layout (see __init__): cell count derives
            # from the manifest's per-file row stats — zero jobs — so
            # probed-cell size stays ~target_cell_rows at any corpus
            # scale; a rebuild re-derives it for the corpus it sees
            n = self.corpus.row_count(head)
            if n is None:
                n = snap.count()
            self.k_cells = max(
                self._k_floor,
                -(-int(n) // self.target_cell_rows),
            )
        # Train, then COLLECT the k metadata-scale centroid rows once:
        # the commit is a zero-probe LocalRelation write, and the rows
        # seed the per-version centroid memo, so the build's own
        # assignment pass pays no further centroid read (guide §1.2).
        tr = self._train_centroids(snap).select("cell", "centroid")
        got = [(r[0], [float(x) for x in r[1]]) for r in tr.collect()]
        sch = T.StructType(
            list(tr.schema.fields)
            + [T.StructField("ts", T.LongType(), False)]
        )
        # same 2v(+1) recency stamp as the assignment rows below —
        # strict ordering against any same-version earlier build
        cur_cents = self.centroids.read()
        cent_stamp = 2 * int(head) + (1 if cur_cents is not None else 0)
        cents = _local_df(
            self.spark,
            [(c, v, cent_stamp) for c, v in got],
            sch,
        )
        if cur_cents is None:
            self.centroids.upsert(cents, [F.col("ts").desc()])
        else:
            # retrain: retire cells that no longer exist, then upsert
            old = cur_cents.select("cell")
            doomed = old.join(cents.select("cell"), "cell", "left_anti")
            if not doomed.isEmpty():
                self.centroids.delete_keys(doomed)
            self.centroids.upsert(cents, [F.col("ts").desc()])
        self._cache_centroids(
            self.centroids.current_version(),
            got,
            tr.schema["cell"].dataType.simpleString(),
        )
        prev = self.assignments.read()
        # Assignment-row recency stamp: 2·version for build/refresh,
        # 2·version + 1 for a REBUILD. A rebuild typically runs at the
        # SAME corpus version the last refresh applied (drift comes
        # from commits the refresh just consumed), so stamping the raw
        # version would TIE the rebuild's re-routed rows against that
        # refresh's rows in keep-latest's row_number — an arbitrary
        # winner, i.e. stale cells/cent_cos surviving a rebuild
        # (surfaced by the stored-cent_cos drift metric; latent before
        # it). The 2v(+1) lamport keeps every ordering strict: last
        # refresh 2v < rebuild 2v+1 < next refresh 2v' ≥ 2v+2. (Two
        # rebuilds at one version still tie, but the trainers are
        # deterministic per layout, so the tied rows are identical.)
        stamp = 2 * int(head) + (1 if prev is not None else 0)
        assigned = self._assign(
            snap.select(self.id_col, self.vec_col)
        ).withColumn("ts", F.lit(stamp).cast("long"))
        if self.pq is not None:
            book = self._train_codebook(snap)
            self._store_codebook(book, ts=stamp)
            assigned = self._with_codes(
                assigned, snap.select(self.id_col, self.vec_col), book
            )
        stale = None
        if prev is not None:
            stale = prev.select(self.id_col).join(
                assigned.select(self.id_col), self.id_col, "left_anti"
            )
        # Baseline quality rides the upsert's own write pass as an
        # observed metric: post-commit the live index is exactly the
        # assigned rows (stale keys are retired below), so
        # avg(cent_cos) over the batch IS quality() (guide §1.2).
        # cent_cos is KEPT in the stored row (VERDICT r14 next-round
        # #5) — cosine(vector, frozen assigned centroid), so later
        # drift checks are a single-column scan (guide §2.3); every
        # refresh re-route stores its own the same way.
        from pyspark.sql import Observation

        obs = Observation()
        batch = assigned.observe(obs, F.avg("cent_cos").alias("q"))
        # The batch's distinct keys are the corpus snapshot's keys
        # (assignment is 1:1), and the manifest's per-file row stats
        # bound them without a count job — skip the probe's
        # checkpoint + capped count (at 100 TB: no executor-storage
        # copy of every corpus key).
        n_rows = self.corpus.row_count(head)
        probe = (
            (snap.select(self.id_col), n_rows <= _PROBE_BROADCAST_CAP)
            if n_rows is not None
            else None
        )
        self.assignments.upsert(
            batch, [F.col("ts").desc()], _probe=probe
        )
        if stale is not None and not stale.isEmpty():
            self.assignments.delete_keys(stale)
        qv = obs.get["q"]
        if qv is None:
            # avg over zero non-NULL cent_cos rows — same refusal as
            # quality() on an empty index
            raise ValueError(
                "index is empty: no assignment rows to score"
            )
        q = float(qv)
        self._put_meta(
            {_META_APPLIED: head, _META_TRAINED: head, _META_BASELINE_Q: q},
            ts=stamp,
        )
        return {"trained_version": head, "baseline_quality": q}

    def refresh(self) -> dict:
        """Consume corpus changes since the applied cursor: deletes
        retire assignment rows; inserts/updates re-route only the
        changed vectors through the FROZEN centroids. O(churn).

        Cursor transactionality (VERDICT r14 next-round #3): the
        applied position rides the refresh's FINAL data commit as its
        ``batch_id``, atomically inside the assignments table's own
        manifest record — the separate meta-table commit every refresh
        used to make (2 jobs) and the torn window between "assignments
        updated" and "cursor advanced" are both gone. The cursor read
        is max(meta applied — builds still record it there —,
        assignments.last_batch_id()), all metadata-only. A refresh
        that crashes mid-way replays exactly: intermediate commits
        carry no batch_id and re-apply idempotently (keyed
        delete/upsert of the same feed), and the position only
        advances with the final commit."""
        meta_applied = self._get_meta(_META_APPLIED)
        if meta_applied is None:
            raise ValueError("index not built: call build() first")
        riding = self.assignments.last_batch_id()
        applied = max(
            int(meta_applied), -1 if riding is None else int(riding)
        )
        head = self.corpus.current_version()
        if head <= applied:
            return {"from": applied, "to": applied,
                    "n_deleted": 0, "n_upserted": 0}
        # Materialize the change feed once: its full-outer CDC join
        # would otherwise re-run for every consumer below (the
        # delete's anti-join, the upsert's merge — six evaluations
        # measured), and BOTH change-kind counts ride the
        # materialization job itself as observed metrics instead of a
        # separate aggregate (guide §1.2: don't recompute what you
        # already have; the feed is O(churn), never O(corpus)).
        from pyspark.sql import Observation

        obs = Observation()
        ch = self.corpus.changes(applied, head).observe(
            obs,
            F.sum(
                (F.col("_change_type") == "delete").cast("long")
            ).alias("n_del"),
            F.sum(
                F.col("_change_type")
                .isin("insert", "update")
                .cast("long")
            ).alias("n_up"),
        ).localCheckpoint(eager=True)
        kinds = obs.get
        n_del = int(kinds["n_del"] or 0)
        n_up = int(kinds["n_up"] or 0)
        if n_del:
            doomed = ch.filter(
                F.col("_change_type") == "delete"
            ).select(self.id_col)
            # the CDC feed is keyed (one row per changed key), so
            # ``doomed`` IS the distinct-key frame and n_del its size:
            # hand both to the commit so it skips the probe's
            # checkpoint + capped-count jobs over an uncacheable plan.
            # batch_id rides ONLY the refresh's final commit (a crash
            # in between must replay the whole feed — see docstring).
            self.assignments.delete_keys(
                doomed,
                batch_id=None if n_up else int(head),
                _probe=(doomed, n_del <= _PROBE_BROADCAST_CAP),
            )
        changed = ch.filter(
            F.col("_change_type").isin("insert", "update")
        ).select(self.id_col, self.vec_col)
        if n_up:
            # cent_cos rides along (see build): re-routed rows carry
            # their cosine against the frozen centroid they landed on,
            # keeping the drift metric a single-column scan. The 2v
            # lamport matches build()'s 2v(+1) stamping — see there.
            routed = self._assign(changed).withColumn(
                "ts", F.lit(2 * int(head)).cast("long")
            )
            if self.pq is not None:
                # changed vectors re-encode through the FROZEN
                # codebook — O(churn), like the cell re-route
                routed = self._with_codes(
                    routed, changed, self._load_codebook()
                )
            # routing (and PQ encode) is 1:1, so the batch's distinct
            # keys are exactly the changed keys — same probe skip.
            # batch_id = the cursor riding this (final) commit.
            self.assignments.upsert(
                routed, [F.col("ts").desc()],
                batch_id=int(head),
                _probe=(
                    changed.select(self.id_col),
                    n_up <= _PROBE_BROADCAST_CAP,
                ),
            )
        if not (n_del or n_up):
            # empty net feed (e.g. compaction-only corpus commits): no
            # data commit carried the cursor, so advance it in meta the
            # pre-r15 way — otherwise every refresh re-reads this feed
            self._put_meta({_META_APPLIED: head}, ts=2 * int(head))
        return {"from": applied, "to": head,
                "n_deleted": n_del, "n_upserted": n_up}

    # -- quality / drift ----------------------------------------------

    def quality(self) -> float:
        """Mean vector↔assigned-centroid cosine over the live index —
        the drift metric. A single-column aggregate over the STORED
        cent_cos (VERDICT r14 next-round #5): every assignment row
        recorded its cosine against the frozen centroid it was routed
        to at build/refresh time, and the centroid table only changes
        on rebuild (which rewrites every row), so the stored value IS
        cosine(vector, assigned centroid), at one column's scan cost
        instead of a full index pass per drift check.

        An index built before the column existed has no ``cent_cos``:
        the cosines are recomputed through the kernel against the
        memoized centroids (one map-only pass). A refresh-only
        migration of such an index skews the metric: rows written
        before it read cent_cos as NULL, which avg() skips, so until
        the next rebuild quality() covers only the re-routed rows."""
        a = self.assignments.read()
        if a is None:
            raise ValueError("index not built")
        if "cent_cos" not in a.columns:
            a = self._assign(a, stored=True)
        row = a.agg(F.avg("cent_cos").alias("q")).collect()
        if row[0][0] is None:
            # avg over zero assignment rows is NULL (churn deleted the
            # whole corpus) — drift is undefined, not a TypeError
            raise ValueError(
                "index is empty: no assignment rows to score"
            )
        return float(row[0][0])

    def maybe_rebuild(self, max_drop: float = 0.05) -> bool:
        """Re-train + re-assign when assignment quality decayed more
        than ``max_drop`` below the build-time baseline. Returns
        whether a rebuild ran. The check is one aggregate; the rebuild
        is the only O(corpus) path and runs only past the fence."""
        base = self._get_meta(_META_BASELINE_Q)
        if base is None:
            raise ValueError("index not built")

        def _emptiness(tbl) -> bool:
            # manifest per-file row stats answer emptiness with zero
            # jobs; only a stats-less legacy manifest pays the take-1
            if tbl.current_version() is None:
                return True
            n = tbl.row_count()
            if n is not None:
                return n == 0
            df = tbl.read()
            return df is None or df.limit(1).count() == 0

        if _emptiness(self.assignments):
            # churn drained the index: quality() is undefined (NULL
            # aggregate). Decide instead of crashing — an empty index
            # over an empty corpus is trivially in sync; a non-empty
            # corpus with a drained index needs the rebuild.
            if _emptiness(self.corpus):
                return False
            self.build()
            return True
        if base - self.quality() <= max_drop:
            return False
        self.build()
        return True

    # -- serving ------------------------------------------------------

    def _queries(self, df: DataFrame, qvec_col: str, qid_col=None):
        """(qids, vectors, kernel parts) of a query frame — one driver
        collect, which runs no Spark job on a LocalRelation."""
        cols = ([qid_col] if qid_col else []) + [qvec_col]
        rows = df.select(*cols).collect()
        vecs = [r[-1] for r in rows]
        qids = [r[0] for r in rows] if qid_col else None
        return qids, vecs, _parts(pa.array(vecs, pa.list_(pa.float64())))

    def _route(self, q, n: int, qi=None):
        """The first n probe cells of every query (or of the ``qi``
        subset): the q×k kernel cosines against the memoized centroids
        ranked by the one order, shaped (queries, n)."""
        cells, cents, _t = self._centroids()
        qi = np.arange(len(q[3])) if qi is None else qi
        nq, nc = len(qi), len(cells)
        n = max(0, min(n, nc))
        cos, null = _cosines(q, qi, cents, np.arange(nc))
        top = _top(np.repeat(np.arange(nq), nc), cos.ravel(), null.ravel(),
                   np.tile(cells, nq), n)
        return cells[top % nc].reshape(nq, n)

    def _sample(self) -> list:
        """A bounded deterministic (xxhash64-ordered, content-spread)
        256-row sample of (id, cell, vector) assignment rows — the
        recall estimate's ground."""
        a = self.assignments.read()
        if a is None:
            raise ValueError("index not built")
        rows = (
            a.select(self.id_col, "cell", self.vec_col)
            .orderBy(F.xxhash64(F.col(self.id_col)), F.col(self.id_col))
            .limit(256)
            .collect()
        )
        return [(r[0], r[1], [float(x) for x in r[2]]) for r in rows]

    def _probed(self, cells: list) -> DataFrame:
        """The chunk/file-pruned assignment rows of ``cells``."""
        a = self.assignments.read(
            where=[("cell", "in", cells)] if cells else None
        )
        if a is None:
            raise ValueError("index not built")
        return a if cells else a.limit(0)

    def _probe_bytes(self, cells: list, cand, n_queries: int) -> float:
        """Driver bytes of serving ``cells`` there: the probed read (an
        upper bound from the kept files' row stats, zero jobs) at the
        stored vector width plus the queries; no stats: unbounded."""
        where = [("cell", "in", cells)]
        rep = self.assignments.skipping_report(where) if cells else {}
        rows = rep.get("rows_kept", 0)
        if rows is None:
            return float("inf")
        d = int(self._centroids()[1][2].max())
        vec_t = cand.schema[self.vec_col].dataType.elementType
        item = 4 if isinstance(vec_t, T.FloatType) else 8
        return float(rows * (d * item + 16) + n_queries * d * 8)

    def _serve(self, qids, q, routes, k: int, qid_field=None) -> DataFrame:
        """Top-k of every query over the candidate rows of its routed
        cells: (qid, id, cell, cos_sim), or (id, cell, cos_sim) without
        ``qid_field``. ONE Spark job — the pruned read — then the
        kernel on the driver, returned as a LocalRelation frame. Above
        the driver byte budget (_probe_bytes) the kernel runs in Arrow
        tasks over the same read instead, a per-query top-k window
        merges the tasks' partial top-ks, and a sort restores the
        driver placement's (query, rank) row order."""
        by_cell = {c: np.flatnonzero((routes == c).any(axis=1))
                   for c in np.unique(routes).tolist()}
        cand = self._probed(sorted(by_cell)).select(
            self.id_col, "cell", self.vec_col
        )
        fields = [cand.schema[self.id_col], cand.schema["cell"],
                  T.StructField("cos_sim", T.DoubleType())]
        qid_pa = None
        if qid_field is not None:
            fields.insert(0, qid_field)
            qid_pa = pa.array(qids, type=to_arrow_type(qid_field.dataType))
        schema = T.StructType(fields)

        def hits(ids, cell, vec):
            qi, ri, cos, null = _score(
                q, by_cell, ids.to_numpy(zero_copy_only=False),
                cell.to_numpy(zero_copy_only=False), vec, k,
            )
            cols = [ids.take(ri), cell.take(ri),
                    pa.array(cos, pa.float64(), mask=null)]
            if qid_pa is not None:
                cols.insert(0, qid_pa.take(qi))
            return cols, qi

        est = self._probe_bytes(sorted(by_cell), cand, len(q[3]))
        if est <= _DRIVER_PROBE_BYTES:
            t = cand.toArrow()
            cols, _qi = hits(*(c.combine_chunks() for c in t.columns))
            out = pa.Table.from_arrays(cols, schema=to_arrow_schema(schema))
            return self.spark.createDataFrame(out, schema)

        def score(batches):
            for b in batches:
                cols, qi = hits(*b.columns)
                yield pa.RecordBatch.from_arrays(
                    cols + [pa.array(qi, pa.int64())],
                    names=schema.names + ["__q"],
                )

        rank = [F.col("cos_sim").desc_nulls_last(), F.col(self.id_col)]
        w = Window.partitionBy("__q").orderBy(*rank)
        qcol = T.StructField("__q", T.LongType())
        return (
            cand.mapInArrow(score, T.StructType(schema.fields + [qcol]))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .orderBy("__q", *rank)
            .select(*schema.names)
        )

    def probe_cells(self, query: DataFrame, n_probe: int | None = None):
        """The query's nearest cells — same contract as
        operators.similarity.ivf_probe_cells."""
        _qids, _vecs, q = self._queries(query, "q")
        routes = self._route(q, self.n_probe if n_probe is None else n_probe)
        return routes[0].tolist() if len(routes) else []

    def topk(
        self,
        query: DataFrame,
        k: int = 10,
        n_probe: int | None = None,
        recall_target: float | None = None,
        max_n_probe: int | None = None,
    ) -> DataFrame:
        """Serve top-k from the PERSISTED index: route the query to
        its probe cells, then an exact-cosine kernel scan of ONLY the
        probed cells' assignment rows — a chunk/file-pruned
        ``read(where=[("cell","in",...)])``, never the corpus.
        ``query`` is a 1-row DataFrame with column ``q``; the result
        is (id, cell, cos_sim), exactly ``topk_batch``'s rows for it.

        ``recall_target`` (VERDICT r12 task #6): escalate n_probe up
        to ``max_n_probe`` (default: every cell, exact over the index)
        until the sampled recall estimate clears the target — the
        decision ``topk_batch`` makes for a batch, surfaced at
        recall.last_reroute_info('persisted_ivf_topk'). Opt-in: it
        adds one ~256-row sample collect per served query."""
        _qids, vecs, q = self._queries(query.limit(1), "q")
        n = self.n_probe if n_probe is None else n_probe
        if recall_target is not None:
            n = self._batch_probe_escalation(
                list(range(len(vecs))), vecs, q, k, n, recall_target,
                max_n_probe, "persisted_ivf_topk",
            )
        return self._serve(None, q, self._route(q, n), k)

    def _batch_probe_escalation(
        self, qids: list, vecs: list, q, k: int, n: int,
        recall_target: float, max_n_probe: int | None, op: str,
    ) -> int:
        """The recall fence (VERDICT r12 #6, r13 #4): ONE escalation
        decision per batch, never per query, so a 10k-query serve pays
        the same one sample collect as a 1-query serve. A ~256-row
        assignment sample estimates recall@k per probe depth for each
        of ≤ ``_BATCH_SAMPLE_QUERIES`` sampled queries (crc32-ordered
        qids: deterministic, content-spread) from their kernel cell
        orders; the served depth is the smallest ≥ n at which the
        WORST sampled query clears the target, capped at
        ``max_n_probe`` (default: every PERSISTED cell — a fresh
        handle's k_cells is only the configured floor). A cap below n
        wins over n. The decision is surfaced via
        recall.last_reroute_info(op), and warnings.warn fires when the
        target is unreachable within the cap."""
        from stupp_exclusion_etl_spark.operators import recall as _rc

        total = len(self._centroids()[0])
        cap = total if max_n_probe is None else min(max_n_probe, total)
        if cap < 1:
            raise ValueError(
                "max_n_probe must be >= 1 (got %r)" % (max_n_probe,)
            )
        pick = sorted(
            range(len(qids)),
            key=lambda i: (zlib.crc32(str(qids[i]).encode()), i),
        )[:_BATCH_SAMPLE_QUERIES]
        orders = self._route(q, cap, np.asarray(pick, dtype=np.int64))
        info = _rc.choose_ivf_probe_batch(
            self._sample(),
            [[float(x) for x in vecs[i]] for i in pick],
            k,
            [o.tolist() for o in orders],
            min(n, cap),
            recall_target,
            cap,
        )
        _rc.record_probe_decision(op, info, recall_target)
        return int(info["n_probe"])

    def topk_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "q",
        recall_target: float | None = None,
        max_n_probe: int | None = None,
    ) -> DataFrame:
        """Batched index-backed serving (VERDICT r12 task #3): top-k
        for a query TABLE in ONE Spark job. The queries are collected
        (zero jobs on a LocalRelation), routed on the driver against
        the memoized centroids, the UNION of their probed cells is read
        once (chunk/file-pruned), and the kernel scores each query
        against the rows of its own routed cells — per query exactly
        ``topk``'s rows, pinned by tests/test_ann_index.py.

        ``queries``: (qid_col, qvec_col) rows. Output: (qid, id,
        cell, cos_sim), k rows per query. ``recall_target``: the
        once-per-batch escalation (_batch_probe_escalation), surfaced
        at recall.last_reroute_info('persisted_ivf_topk_batch')."""
        qids, vecs, q = self._queries(queries, qvec_col, qid_col)
        n = self.n_probe if n_probe is None else n_probe
        if recall_target is not None:
            n = self._batch_probe_escalation(
                qids, vecs, q, k, n, recall_target, max_n_probe,
                "persisted_ivf_topk_batch",
            )
        return self._serve(
            qids, q, self._route(q, n), k, queries.schema[qid_col]
        )

    def topk_batch_adc(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int | None = None,
        qid_col: str = "qid",
        qvec_col: str = "q",
        recall_target: float | None = None,
        max_n_probe: int | None = None,
    ) -> DataFrame:
        """Batched PQ-ADC serving: same kernel routing as
        ``topk_batch``, but the candidate scan reads ONLY (id, cell,
        codes) — m small ints per vector, never the raw embeddings —
        and scores each (query, candidate) pair asymmetrically
        against the frozen codebook, embedded as per-subspace centroid
        literals. The accumulation order (0-seeded left-to-right
        per-subspace dot, subspace terms added left to right, round 6)
        is bit-identical to ``topk_adc``'s driver-side LUT — the LUT
        contraction simply happens row-wise against the query column
        instead of folding to literals; tests pin per-query equality."""
        if self.pq is None:
            raise ValueError("index built without pq=(m, k)")
        from stupp_exclusion_etl_spark.operators.similarity import _dlit

        book = self._load_codebook()
        m = len(book)
        kc = len(book[0])
        d = len(book[0][0])
        qids, vecs, q = self._queries(queries, qvec_col, qid_col)
        n = self.n_probe if n_probe is None else n_probe
        if recall_target is not None:
            # same once-per-batch escalation as topk_batch (routing
            # is identical; only candidate scoring differs)
            n = self._batch_probe_escalation(
                qids, vecs, q, k, n, recall_target, max_n_probe,
                "persisted_ivf_topk_batch_adc",
            )
        # the (query, cell) routes as a LocalRelation literal: the
        # broadcast builds driver-side (see _local_df)
        routed = [
            (qids[i], c, vecs[i])
            for i, row in enumerate(self._route(q, n))
            for c in row.tolist()
        ]
        cell_t = T._parse_datatype_string(self._centroids()[2])
        routes = _local_df(self.spark, routed, T.StructType([
            queries.schema[qid_col], T.StructField("cell", cell_t),
            queries.schema[qvec_col],
        ]))
        cand = self._probed(sorted({c for _q, c, _v in routed})).select(
            self.id_col, "cell", "codes"
        )
        joined = cand.join(F.broadcast(routes), "cell")
        terms = []
        for s in range(m):
            cents_lit = "array(" + ", ".join(
                "array(" + ", ".join(_dlit(x) for x in book[s][c]) + ")"
                for c in range(kc)
            ) + ")"
            sub = f"slice({qvec_col}, {s * d + 1}, {d})"
            terms.append(
                f"aggregate(zip_with({sub}, "
                f"element_at({cents_lit}, codes[{s}] + 1), "
                f"(a, b) -> CAST(a AS DOUBLE) * b), "
                f"0.0D, (acc, x) -> acc + x)"
            )
        score = " + ".join(terms)
        out = joined.selectExpr(
            qid_col, self.id_col, f"round({score}, 6) AS adc_score"
        )
        ws = Window.partitionBy(qid_col).orderBy(
            F.col("adc_score").desc(), F.col(self.id_col).asc()
        )
        return (
            out.withColumn("__rn", F.row_number().over(ws))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    def topk_adc(
        self,
        query_vec: list[float],
        k: int = 10,
        n_probe: int | None = None,
    ) -> DataFrame:
        """PQ-ADC serving from the persisted codes: probe cells, then
        asymmetric-distance top-k over ONLY the probed cells'
        (id, codes) rows — the billion-vector layout (IVF routes, PQ
        codes score): the candidate scan reads m small ints per
        vector, never the raw embeddings."""
        if self.pq is None:
            raise ValueError("index built without pq=(m, k)")
        from stupp_exclusion_etl_spark.operators.similarity import (
            pq_adc_topk,
        )

        # LocalRelation literal (zero-job probe collect — see _local_df)
        q = _local_df(
            self.spark,
            [([float(x) for x in query_vec],)], "q array<float>",
        )
        cells = self.probe_cells(q, n_probe)
        cand = self._probed(cells).select(self.id_col, "codes")
        return pq_adc_topk(
            cand, self._load_codebook(), [float(x) for x in query_vec],
            k=k, id_col=self.id_col,
        )
