"""Deduplication operators (SURVEY.md §2 B9 + north-star dedup family).

Keep-latest (the reference's upsert-by-key semantics, reference
__main__.py:8-24), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. Every sketch uses the engine-portable md5
primitives from functions.hashing so results are oracle-checkable.

Near-dedup is one kernel over Arrow arrays of (id, text) (``near_dedup``;
``minhash_signatures``, ``minhash_lsh_pairs`` and
``connected_components_star`` are its stages):

1. 3-word shingle sets over Java-``\\s`` tokens (functions.text.tokens);
2. 12 affine MinHashes over the md5-60 base, in int64;
3. LSH band keys (4 bands × 3) and the in-bucket candidate pairs, with
   a ``max_bucket`` cap on degenerate (boilerplate) buckets;
4. exact shingle-set Jaccard on the candidates only, and union-find
   components labelled by their min id.

It has two placements. While the input plan's size estimate fits
``_DRIVER_DEDUP_BYTES`` it runs on the driver: one ``toArrow()`` collect
in, a LocalRelation out. Otherwise the same per-document function runs
in ``mapInArrow`` tasks, the band grouping is one Spark exchange, and
components run the same union-find per partition before star
contraction contracts what is left.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import re
import sys
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from stupp_exclusion_etl_spark.functions.hashing import MINHASH_P, minhash_params
from stupp_exclusion_etl_spark.functions.text import shingles, tokens
from stupp_exclusion_etl_spark.operators.budget import _on_driver

# Arrow tasks run this module's kernel: pickle it by value, so an
# executor needs no import path to the package (as operators.ann_index).
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def keep_latest(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    """Last-write-wins upsert semantics on plain tables: keep exactly
    one row per key, the first under `order_by` (pass descending
    recency). One shuffle on the key; on Delta this is MERGE INTO."""
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) rows. Tokens are materialized as a column BEFORE
    shingling: higher-order-function lambdas re-evaluate inline child
    expressions per element, so shingling over an inline split() is
    O(tokens²) regex work per document (~100× slower, measured).
    Also repartitions on the id: a small-bytes parquet arrives as one
    partition, while the explode is CPU-bound — spread it across cores;
    a groupBy(id) downstream then reuses this partitioning instead of
    shuffling again. The partition count is EXPLICIT (not
    AQE-advisory): AQE sizes partitions by shuffle-map bytes, and the
    expensive part happens after the exchange, so AQE would coalesce a
    few MB of text onto one core."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    n = df.sparkSession.sparkContext.defaultParallelism
    return toked.repartition(n, id_col).select(
        F.col(id_col), F.explode(shingles(F.col("__toks"), k)).alias("s")
    )


# -- the near-dedup kernel ----------------------------------------------------

#: Java's ``\s`` — what Spark's split(text, '\\s+') cuts on. Python's
#: str.split() also cuts on \x1c-\x1f, \x85, \xa0 and \u2028, which
#: Spark keeps inside tokens.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _shingle_set(text: str | None, k: int) -> set[str]:
    """functions.text.shingles(tokens(text), k) as a set: a text under
    k tokens is one whole-text shingle, a text without tokens none."""
    toks = [t for t in _JAVA_WS.split(text) if t] if text else []
    if len(toks) < k:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _doc_sets(ids: list, texts: list, k: int) -> tuple[list[int], list[set]]:
    """(a row of each id, the id's shingle set), in id order. Rows of
    one id pool their shingles; NULL ids and ids without a shingle are
    left out, as the Spark explode and group-by left them out."""
    sets, row = {}, {}
    for r, (i, t) in enumerate(zip(ids, texts)):
        sh = _shingle_set(t, k) if i is not None else None
        if sh:
            row.setdefault(i, r)
            sets.setdefault(i, set()).update(sh)
    order = sorted(sets)
    return [row[i] for i in order], [sets[i] for i in order]


def _signatures(sets: list[set], hashes: list[tuple[int, int]]) -> np.ndarray:
    """(len(sets), len(hashes)) int64 MinHash signatures:
    h_c = min over a set of (a_c·(md5base(s) % P) + b_c) % P, with
    md5base the first 15 hex digits (60 bits) of md5, as the oracle's
    plans.dedup._MD5_BASE decodes them.
    a, b and the reduced base are below P < 2^30, so every value stays
    below 2^61 and int64 is exact."""
    if not sets:
        return np.empty((0, len(hashes)), np.int64)
    lens = np.fromiter(map(len, sets), np.int64, len(sets))
    hb = np.fromiter(
        (
            (int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4)
            % MINHASH_P
            for st in sets
            for s in st
        ),
        np.int64,
        int(lens.sum()),
    )
    starts = np.cumsum(lens) - lens
    sig = np.empty((len(sets), len(hashes)), np.int64)
    for c, (a, b) in enumerate(hashes):
        sig[:, c] = np.minimum.reduceat((a * hb + b) % MINHASH_P, starts)
    return sig


def _band_pairs(sig: np.ndarray, band_size: int, max_bucket: int | None) -> list:
    """Row pairs (i < j) whose signatures agree on every hash of at
    least one band, counting only buckets of 2..max_bucket rows."""
    cap = max_bucket or (1 << 31)
    pairs = set()
    for lo in range(0, sig.shape[1] // band_size * band_size, band_size):
        buckets = defaultdict(list)
        for r, key in enumerate(map(tuple, sig[:, lo:lo + band_size].tolist())):
            buckets[key].append(r)
        for rows in buckets.values():
            if 2 <= len(rows) <= cap:
                pairs.update(itertools.combinations(rows, 2))
    return sorted(pairs)


def _overlap(a: set, b: set, threshold: float) -> tuple | None:
    """(|a∩b|, |a|, |b|) when the exact Jaccard of two shingle sets
    reaches ``threshold`` (a double division, as Spark's), else None."""
    n = len(a & b)
    return (n, len(a), len(b)) if n / (len(a) + len(b) - n) >= threshold else None


def _union_find(a: list, b: list) -> dict:
    """node → the min node of its component, over the edges (a[i], b[i])."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for x, y in zip(a, b):
        x, y = find(x), find(y)
        if x != y:
            parent[max(x, y)] = min(x, y)
    return {x: find(x) for x in parent}


def _take(arr: pa.Array, rows: list[int]) -> pa.Array:
    return arr.take(pa.array(rows, pa.int64()))


def _kernel(ids: pa.Array, texts: pa.Array, stage: str, k: int, hashes: list,
            band_size: int, max_bucket: int | None, threshold: float) -> dict:
    """The whole near-dedup chain up to ``stage`` over (id, text) rows,
    as the stage's output columns (``near_dedup``)."""
    idv = ids.to_pylist()
    rows, sets = _doc_sets(idv, texts.to_pylist(), k)
    sig = _signatures(sets, hashes)
    if stage == "signatures":
        return {"id": _take(ids, rows), **{f"h{c}": sig[:, c] for c in range(len(hashes))}}
    pairs = _band_pairs(sig, band_size, max_bucket)
    if stage == "pairs":
        return {"id1": _take(ids, [rows[i] for i, _ in pairs]),
                "id2": _take(ids, [rows[j] for _, j in pairs])}
    ver = [(i, j, *o) for i, j in pairs if (o := _overlap(sets[i], sets[j], threshold))]
    if stage == "verified":
        cols = list(zip(*ver)) or [()] * 5
        return {"id1": _take(ids, [rows[i] for i in cols[0]]),
                "id2": _take(ids, [rows[j] for j in cols[1]]),
                **{c: pa.array(v, pa.int64()) for c, v in zip(("n_inter", "na", "nb"), cols[2:])}}
    # survivors: the rows whose id is the min id of its component (the
    # kernel's positions are in id order, so the min position) or in
    # no verified pair
    root = _union_find([v[0] for v in ver], [v[1] for v in ver])
    size = Counter(root.values())
    at = {idv[r]: p for p, r in enumerate(rows)}
    pos = [at.get(i) for i in idv]
    keep = [r for r, p in enumerate(pos) if root.get(p, p) == p]
    return {"id": _take(ids, keep), "group_id": _take(ids, keep),
            "n_members": pa.array([size.get(pos[r], 1) for r in keep], pa.int64())}


def _stage_schema(stage: str, id_t: T.DataType, n_hashes: int) -> T.StructType:
    cols = {
        "signatures": ["id"] + [f"h{c}" for c in range(n_hashes)],
        "pairs": ["id1", "id2"],
        "verified": ["id1", "id2", "n_inter", "na", "nb"],
        "survivors": ["id", "group_id", "n_members"],
    }[stage]
    return T.StructType([
        T.StructField(c, id_t if c in ("id", "id1", "id2", "group_id") else T.LongType())
        for c in cols
    ])


def _pooled(batches) -> list[pa.Array] | None:
    """One partition's batches as whole columns (None when empty)."""
    batches = list(batches)
    if not batches:
        return None
    return [pa.concat_arrays([b.column(c) for b in batches])
            for c in range(batches[0].num_columns)]


def _sketch_batches(batches, k: int, hashes: list):
    """mapInArrow body: the kernel's per-document step over a partition
    that holds every row of its ids: (id, signature, shingles)."""
    cols = _pooled(batches)
    if cols is None:
        return
    ids, texts = cols
    rows, sets = _doc_sets(ids.to_pylist(), texts.to_pylist(), k)
    yield pa.RecordBatch.from_arrays(
        [_take(ids, rows),
         pa.array(_signatures(sets, hashes).tolist(), pa.list_(pa.int64())),
         pa.array([sorted(s) for s in sets], pa.list_(pa.string()))],
        ["id", "sig", "sh"],
    )


def _verify_batches(batches, threshold: float):
    """mapInArrow body: the kernel's Jaccard step over candidate rows
    (id1, id2, shingles1, shingles2)."""
    for b in batches:
        id1, id2, sa, sb = b.columns
        keep, stats = [], []
        for r, (a, c) in enumerate(zip(sa.to_pylist(), sb.to_pylist())):
            if (o := _overlap(set(a), set(c), threshold)) is not None:
                keep.append(r)
                stats.append(o)
        counts = list(zip(*stats)) or [(), (), ()]
        yield pa.RecordBatch.from_arrays(
            [_take(id1, keep), _take(id2, keep), *(pa.array(v, pa.int64()) for v in counts)],
            ["id1", "id2", "n_inter", "na", "nb"],
        )


def _contract_batches(batches):
    """mapInArrow body: union-find over one partition's edges (s < l),
    emitted as a star — (root, node) for every node but the root."""
    cols = _pooled(batches)
    if cols is None:
        return
    root = _union_find(cols[0].to_pylist(), cols[1].to_pylist())
    kids = [x for x, r in root.items() if x != r]
    yield pa.RecordBatch.from_arrays(
        [pa.array([root[x] for x in kids], cols[0].type), pa.array(kids, cols[0].type)],
        ["s", "l"],
    )


def _task_stage(docs: DataFrame, stage: str, k: int, hashes: list,
                band_size: int, max_bucket: int | None, threshold: float) -> DataFrame:
    """The kernel's stages as a Spark plan: the per-document step in
    mapInArrow tasks after a repartition on the id (so an id's rows
    meet), one band-bucket exchange, and the Jaccard step in mapInArrow
    tasks over the candidates joined to their shingle sets."""
    id_t = docs.schema["id"].dataType
    n = docs.sparkSession.sparkContext.defaultParallelism
    sk = docs.repartition(n, "id").mapInArrow(
        functools.partial(_sketch_batches, k=k, hashes=hashes),
        T.StructType([
            T.StructField("id", id_t),
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("sh", T.ArrayType(T.StringType())),
        ]),
    )
    sigs = sk.select("id", *[F.col("sig")[c].alias(f"h{c}") for c in range(len(hashes))])
    if stage == "signatures":
        return sigs
    # One aggregation per bucket, then the pairs expand inside the
    # bucket array: one shuffle, and the bucket-size cap is a filter.
    buckets = (
        lsh_bands(sigs, "id", len(hashes), band_size)
        .groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket or (1 << 31)))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id1", "p.id2").distinct()
    if stage == "pairs":
        return pairs
    verified = (
        pairs.join(sk.select(F.col("id").alias("id1"), F.col("sh").alias("sa")), "id1")
        .join(sk.select(F.col("id").alias("id2"), F.col("sh").alias("sb")), "id2")
        .select("id1", "id2", "sa", "sb")
        .mapInArrow(functools.partial(_verify_batches, threshold=threshold),
                    _stage_schema("verified", id_t, 0))
    )
    if stage == "verified":
        return verified
    groups = connected_components_star(verified).select(
        F.col("doc_id").alias("id"), "group_id",
        F.count(F.lit(1)).over(W.partitionBy("group_id")).alias("n"),
    )
    return (
        docs.select("id")
        .join(groups, "id", "left")
        .filter(F.col("group_id").isNull() | (F.col("id") == F.col("group_id")))
        .select("id", F.col("id").alias("group_id"),
                F.coalesce("n", F.lit(1)).cast("long").alias("n_members"))
    )


def near_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stage: str = "survivors",
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_k: int = 3,
    max_bucket: int | None = 1000,
    threshold: float = 0.4,
) -> DataFrame:
    """MinHash-LSH near-dedup of ``df``'s (id, text) rows, up to ``stage``:

    - ``signatures``: (id, h0..h{n_hashes-1}) per id with a shingle;
    - ``pairs``: LSH candidates (id1 < id2) colliding in ≥ 1 band of
      ``band_size`` hashes; buckets over ``max_bucket`` ids are dropped;
    - ``verified``: candidates with exact shingle-set Jaccard ≥
      ``threshold``, as integer (id1, id2, n_inter, na, nb) so a caller
      rounds n_inter / (na + nb - n_inter) in Spark;
    - ``survivors``: (id, group_id, n_members) — every row whose id is
      the min id of its verified component (group_id = id, n_members
      the component's size) or in no verified pair (n_members 1).

    Placement is by ``_on_driver`` (module docstring); both placements
    run the same kernel functions and give the same rows."""
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    args = (shingle_k, minhash_params(n_hashes), band_size, max_bucket, threshold)
    if _on_driver(docs):
        t = docs.toArrow()
        cols = _kernel(t.column("id").combine_chunks(), t.column("text").combine_chunks(),
                       stage, *args)
        schema = _stage_schema(stage, docs.schema["id"].dataType, n_hashes)
        out = df.sparkSession.createDataFrame(pa.table(cols), schema)
    else:
        out = _task_stage(docs, stage, *args)
    return out.withColumnRenamed("id", id_col)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document: h_i = min over shingles of
    (a_i·md5base(shingle) + b_i) mod p — ONE md5 per shingle plus
    n_hashes affine maps (the standard Carter-Wegman construction).
    Zero-shingle (empty/whitespace) docs have no row: an all-NULL
    signature would put every such doc in one degenerate band bucket.
    Mirrors the oracle, where UNNEST of an empty shingle list yields no
    rows. The kernel's first two steps (``near_dedup``)."""
    return near_dedup(df, id_col, text_col, "signatures", n_hashes, shingle_k=shingle_k)


def lsh_bands(sigs: DataFrame, id_col: str, n_hashes: int, band_size: int) -> DataFrame:
    """Split a signature into bands; band_key = the band's hashes
    joined with '|' (exact band identity — no re-hash needed, equal
    key ⇔ equal band)."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"h{b * band_size + r}") for r in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_k: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs (id1 < id2) that collide in ≥1 LSH
    band. `max_bucket` drops degenerate buckets to bound fan-out. The
    kernel's first three steps (``near_dedup``)."""
    return near_dedup(
        df, id_col, text_col, "pairs", n_hashes, band_size, shingle_k, max_bucket
    )


def simhash16_token_values(text: Column) -> Column:
    """Per-token 16-bit values for SimHash: first 4 md5 hex chars of
    each whitespace token, decoded to a long. Materialize this as its
    OWN projection (a separate select) before simhash16_from_values
    iterates it: HOF aggregates re-evaluate inline array children, so
    an inline transform would re-hash every token 16× — once per bit
    aggregate. As a distinct multi-referenced alias Catalyst keeps the
    Project boundary (CollapseProject only inlines cheap or
    once-referenced aliases), so each token is md5-hashed exactly once."""
    toks = tokens(text)
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    )


def simhash16_from_values(vals: Column) -> Column:
    """16-bit SimHash fingerprint from a precomputed token-value array:
    each fingerprint bit is the sign of the sum of (2*bit-1) across
    tokens — 16 cheap shift/mod aggregates over longs, no re-hashing."""

    def bit_balance(b: int) -> Column:
        return F.aggregate(
            vals,
            F.lit(0).cast("long"),
            lambda acc, v: acc + (F.shiftright(v, b) % 2) * 2 - 1,
        )

    fp = F.lit(0).cast("long")
    for b in range(16):
        fp = fp + F.when(bit_balance(b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return fp


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via an inverted-index join:
    explode distinct shingles, equi-join on shingle, count
    intersections, then |A∩B| / (|A|+|B|-|A∩B|) ≥ threshold.
    Returns (id1, id2, jaccard). At scale, run AFTER the LSH filter so
    the shingle join only sees candidates.

    `max_df` is the hot-shingle skew guard (the inverted-index analog of
    minhash_lsh_pairs' max_bucket): a shingle present in d documents
    fans out d² join rows, so boilerplate shared by millions of docs
    would be quadratic. Shingles with document frequency > max_df are
    dropped — from the index AND from the per-doc sizes, so jaccard is
    exact over the capped shingle universe (deterministic, mirrored in
    the oracle SQL). The hot list is tiny by construction (≤ |shingles|
    / max_df entries) and broadcast for the anti-join."""
    counts = _ngram_pair_counts(df, id_col, text_col, shingle_k, max_df)
    return (
        counts.withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _ngram_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index machinery for the set-overlap measures:
    distinct shingles per doc, hot-shingle df-cap (skew guard), pair
    intersection counts joined to both docs' shingle-set sizes.
    Returns (id1, id2, n_inter, n1, n2)."""
    sh = (
        _exploded_shingles(df, id_col, text_col, shingle_k)
        .withColumnRenamed(id_col, "id")
        .distinct()
    )
    if max_df is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("id").alias("id1"), "s")
    b = sh.select(F.col("id").alias("id2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2"))
    return inter.join(sa, "id1").join(sb, "id2")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup: containment |A∩B| / min(|A|,|B|) ≥ threshold
    — catches a short document EMBEDDED in a long one (quotes, wrapper
    boilerplate, chunk-of-parent), exactly the pairs symmetric Jaccard
    dilutes toward 0 as the long side grows. Shares
    _ngram_pair_counts' inverted-index join and df-cap; only the final
    measure differs. Returns (id1, id2, containment)."""
    counts = _ngram_pair_counts(df, id_col, text_col, shingle_k, max_df)
    return (
        counts.withColumn(
            "containment",
            F.col("n_inter").cast("double")
            / F.least(F.col("n1"), F.col("n2")).cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "containment")
    )


def _estimate_bucket_pairs(e: DataFrame, bucket_col: str) -> int:
    """Σ n_b·(n_b−1)/2 over buckets — the exact number of candidate
    pairs a within-bucket self-join will score. One column-pruned hash
    aggregate reduced to a single driver row (bounded metadata), the
    same shape as a cost-based optimizer's cardinality probe."""
    row = (
        e.groupBy(bucket_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("pairs"))
        .first()
    )
    return int(row["pairs"] or 0)


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: Column,
    threshold: float = 0.99,
    max_pairs: int | None = None,
    on_exceed: str = "raise",
    dim: int | None = None,
    recall_target: float | None = None,
    budget_escalation: float | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within buckets (e.g. an LSH or
    cluster-label bucket) — the bucketed equi-join keeps this linear in
    bucket size instead of a full cartesian. Norms are computed ONCE
    per vector before the join (N aggregates), not once per pair
    (N²/buckets aggregates) — measured 5× on the label-bucketed
    corpus; the per-pair work is a single dot product.

    ``max_pairs`` is the cost fence for the fixed-bucket-count trap
    (10× rows in the same buckets = 100× pairs — measured 93×
    wall-clock at 10× data, BENCH_SCALE_r06): the in-bucket pair count
    Σ n_b·(n_b−1)/2 is estimated up front with one bounded aggregate,
    and above the budget the operator either raises
    ``CostBudgetExceeded`` (``on_exceed="raise"``) or re-routes to the
    bounded path (``on_exceed="subdivide"``): every bucket is widened
    with ⌈log2(est/budget)⌉ deterministic sign-of-projection LSH bits
    (operators.similarity.lsh_assign_buckets), shrinking expected pair
    work back under the budget. Sub-bucketing is the documented
    approximation: a true near-dup pair at angle θ survives each extra
    bit with prob 1−θ/π (≥ 0.9 per bit at cosine ≥ 0.95), and pairs
    that land in different sub-buckets are missed — exactly the LSH
    recall trade every bounded near-dedup at scale makes. Below the
    budget the plan is byte-identical to the unguarded one.

    Every reroute now ESTIMATES its pair recall on a bounded
    deterministic sample (operators.recall) and surfaces it via
    warnings + recall.last_reroute_info("embedding_neardup_pairs") —
    high-entropy embeddings can no longer silently lose ~90% of true
    pairs unannounced. ``recall_target`` additionally escalates within
    the same budget via OR-amplified independent sub-bucket tables
    (T tables of b bits each: work T·est/2^b stays under budget,
    recall 1-(1-s^b)^T grows; a pair is kept if it collides in ANY
    table, deduplicated before scoring). ``budget_escalation`` (opt-in,
    only meaningful with ``recall_target``): when no in-budget config's
    ESTIMATED recall clears the target, permit configs spending up to
    N× max_pairs — fewer sub-bucket bits, more pairs kept — still
    decided by the same sample estimate, with the actual multiple
    reported as ``budget_multiplier`` in the warning and
    last_reroute_info."""
    from stupp_exclusion_etl_spark.functions.vectors import dot, norm2

    e = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        bucket_col.alias("bk"),
        norm2(F.col(vec_col)).alias("n"),
    )
    dedup_pairs = False
    if max_pairs is not None:
        from stupp_exclusion_etl_spark.operators.budget import (
            cached_estimate,
        )

        # memoized per (plan, input files) fingerprint: the estimate
        # job runs once per distinct input, not once per call
        # (retired the r7 bench-gate exception for this query)
        est = cached_estimate(
            "bucket_pairs", (e,), lambda: _estimate_bucket_pairs(e, "bk")
        )
        if est > max_pairs:
            if on_exceed != "subdivide":
                from stupp_exclusion_etl_spark.operators.budget import (
                    CostBudgetExceeded,
                )

                raise CostBudgetExceeded(
                    f"embedding_neardup_pairs: estimated in-bucket pair "
                    f"count {est:,} exceeds max_pairs={max_pairs:,}. "
                    f"Raise max_pairs explicitly, or pass "
                    f"on_exceed='subdivide' to bound the work with LSH "
                    f"sub-buckets (approximate: cross-sub-bucket pairs "
                    f"are missed), or use the ANN family "
                    f"(operators.similarity) for top-k semantics."
                )
            from stupp_exclusion_etl_spark.operators import recall as rc
            from stupp_exclusion_etl_spark.operators.similarity import (
                lsh_assign_buckets,
            )

            if dim is None:
                dim = len(e.select("v").first()[0])
            # the whole config decision is memoized, not just the
            # sample collect: the numpy recall estimate (~100 ms on a
            # 512-vector sample) would otherwise run on EVERY call of
            # a warm query — the same standing tax the r7 bench gate
            # flagged for the cardinality estimate
            cfg = cached_estimate(
                f"neardup_cfg:{threshold}:{max_pairs}:{recall_target}:"
                f"{budget_escalation}",
                (e,),
                lambda: rc.choose_neardup_config(
                    rc.sample_vectors(e, "id", "v", 512),
                    threshold, est, max_pairs, recall_target,
                    budget_escalation,
                ),
            )
            rc.record_reroute(
                "embedding_neardup_pairs",
                {**cfg, "est_pairs": est}, recall_target,
            )
            n_bits, n_tables = cfg["n_bits"], cfg["n_tables"]
            if n_tables == 1:
                e = lsh_assign_buckets(e, "v", dim, n_planes=n_bits)
                e = e.withColumn(
                    "bk",
                    F.concat_ws(
                        "#", F.col("bk").cast("string"),
                        F.col("lsh_bucket").cast("string"),
                    ),
                ).drop("lsh_bucket")
            else:
                # OR-amplification: T independent sub-bucket tables —
                # each row explodes to one "{table}#{bucket}" value per
                # table; a pair is a candidate if it collides in ANY
                # table (duplicates across tables dropped pre-scoring)
                dedup_pairs = True
                for t in range(n_tables):
                    e = lsh_assign_buckets(
                        e, "v", dim, n_planes=n_bits,
                        plane_offset=t * n_bits,
                    ).withColumnRenamed("lsh_bucket", f"__b{t}")
                e = e.withColumn(
                    "bk",
                    F.explode(F.array(*[
                        F.concat_ws(
                            "#", F.col("bk").cast("string"),
                            F.lit(str(t)),
                            F.col(f"__b{t}").cast("string"),
                        )
                        for t in range(n_tables)
                    ])),
                ).drop(*[f"__b{t}" for t in range(n_tables)])
    a = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("n").alias("n1"), "bk")
    b = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("n").alias("n2"), "bk")
    pairs = a.join(b, "bk").filter(F.col("id1") < F.col("id2"))
    if dedup_pairs:
        pairs = pairs.dropDuplicates(["id1", "id2"])
    return (
        pairs
        .withColumn(
            # try_divide: zero vectors score NULL (never >= threshold)
            # instead of throwing ANSI DIVIDE_BY_ZERO.
            "cos_sim", F.try_divide(dot(F.col("v1"), F.col("v2")), F.col("n1") * F.col("n2"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def connected_components_star(
    pairs: DataFrame, id1: str = "id1", id2: str = "id2", max_iter: int = 30
) -> DataFrame:
    """Connected components over an edge list: (doc_id, group_id = min
    id reachable) for every node of a non-loop edge of `pairs` — the
    step that turns pairwise LSH/Jaccard output into per-document dedup
    decisions.

    While the edge list's size estimate fits ``_DRIVER_DEDUP_BYTES`` it
    is collected once and labelled by the kernel's union-find on the
    driver (a LocalRelation). Above it, each partition's edges first
    run the same union-find (``_contract_batches``) and leave one star
    per local component; the alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") then joins those stars. It converges in O(log n) rounds and
    each round REWRITES the edge list toward a star, so a viral
    boilerplate cluster (one doc near-duplicated a million times)
    collapses onto its minimum in a few rounds instead of funneling a
    million labels through one key every round.

    Per round, two window aggregations over the edge list (no
    self-joins): large-star connects every neighbor larger than u to
    m = min(N(u) ∪ {u}) over the symmetrized edges; small-star connects
    every smaller neighbor (and u itself) to the minimum of u's smaller
    neighborhood over the canonical (small, large) orientation.
    Convergence = round leaves the canonical edge set unchanged
    (count + anti-join emptiness — exact, not a checksum); lineage is
    truncated per round with localCheckpoint."""
    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("s"), F.greatest("a", "b").alias("l"))
    )
    id_t = edges.schema["s"].dataType
    if _on_driver(edges):
        t = edges.toArrow()
        root = _union_find(t.column("s").to_pylist(), t.column("l").to_pylist())
        typ = t.schema.field("s").type
        return pairs.sparkSession.createDataFrame(
            pa.table({"doc_id": pa.array(list(root), typ),
                      "group_id": pa.array(list(root.values()), typ)}),
            T.StructType([T.StructField("doc_id", id_t), T.StructField("group_id", id_t)]),
        )
    edges = edges.mapInArrow(_contract_batches, edges.schema)
    # Edge counts ride each checkpoint's own materialization pass as
    # observed metrics (zero extra jobs); the former shape paid a
    # count job (and an initial isEmpty probe) per round over the
    # just-checkpointed blocks.
    obs0 = Observation()
    edges = (
        edges.distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = int(obs0.get["n"])
    converged = n_edges == 0  # empty graph is trivially a fixed point
    for _ in range(max_iter):
        # Large-star over symmetric neighborhoods: (v, m) for v > u.
        sym = edges.select(F.col("s").alias("u"), F.col("l").alias("v")).unionAll(
            edges.select(F.col("l").alias("u"), F.col("s").alias("v"))
        )
        wu = W.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))  # m <= u < v: already canonical
            .select(F.col("m").alias("s"), F.col("v").alias("l"))
            .distinct()
        )
        # Small-star over the (large -> smaller neighbors) orientation:
        # m = min of l's smaller neighborhood; attach those neighbors
        # and l itself to m.
        wl = W.partitionBy("l")
        small = large.withColumn("m", F.min("s").over(wl))
        obs = Observation()
        nxt = (
            small.select(F.col("m").alias("a"), F.col("s").alias("b"))
            .unionAll(small.select(F.col("m").alias("a"), F.col("l").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("s"), F.greatest("a", "b").alias("l"))
            .distinct()
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        n_nxt = int(obs.get["n"])
        same_count = n_nxt == n_edges
        converged = same_count and nxt.join(
            edges, ["s", "l"], "left_anti"
        ).isEmpty()
        edges, n_edges = nxt, n_nxt
        if converged:
            break
    if not converged:
        # The star-forest extraction below is only valid AT the fixed
        # point — a node still attached to two parents would emit
        # conflicting (doc_id, group_id) rows. Fail loudly rather than
        # silently double-count (code review r3); the alternating
        # algorithm converges in O(log² n) rounds w.h.p., so max_iter=30
        # only trips on pathological inputs worth surfacing.
        raise ValueError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter"
        )
    # Fixed point is a star forest: every non-root appears exactly once
    # as `l` pointing at its root `s`; roots label themselves.
    roots = edges.select(F.col("s").alias("doc_id")).distinct().join(
        edges.select(F.col("l").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    return edges.select(
        F.col("l").alias("doc_id"), F.col("s").alias("group_id")
    ).unionByName(roots.select("doc_id", F.col("doc_id").alias("group_id")))


def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact duplicate-SPAN removal across documents (the Lee et al.
    exact-substring dedup verb, shuffle-bounded — no suffix array):
    every run of >= ``n`` whitespace tokens appearing in two or more
    documents is cut from every document except its OWNER (the
    smallest id containing it — keep-first), and surviving tokens
    reassemble in order, single-space joined. Returns
    (id, n_removed bigint, cleaned string); NULL/empty texts yield
    (0, ''); docs shorter than ``n`` tokens pass through uncut
    (whitespace-normalized).

    Two-phase grouping so the WIDE shuffle never carries the window
    string (VERDICT r13 #5). Phase 1: n-token sliding windows hash
    to ``h = xxhash64(gram)`` map-side and the gram string is
    DROPPED before the exchange — the full-corpus shuffle carries
    (h, __id, pos) only (~24 bytes/row vs h + an n-token string),
    and a groupBy(h) with map-side-combinable MIN/MAX ids selects
    candidate buckets (cross-doc ⟺ MIN(id) <> MAX(id); any gram
    appearing in two docs makes its bucket cross-doc, so this is a
    strict superset of the true duplicates even under hash
    collision). Phase 2 touches ONLY candidate rows — a vanishing
    fraction unless the corpus is mostly duplicate: re-attach the
    gram by re-slicing the owning doc's token array, then verify
    with an exact groupBy(h, gram) — string equality decides, hash
    equality alone never cuts. Owners resolve per gram with MIN/MAX
    (no countDistinct), marked windows explode to covered token
    positions, and an anti-join + ordered reassembly rebuilds the
    text. Overlapping duplicate windows merge at token-coverage
    level, i.e. maximal-span semantics. Within-doc repeats alone are
    NOT cut (cross-document contract)."""
    base = docs.select(
        F.col(id_col).alias("__id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("toks"),
    )
    # Phase 1: hash map-side, drop the gram string before the
    # exchange — the only full-corpus shuffle carries (h, __id, pos).
    winh = base.select(
        "__id",
        "toks",
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.sequence(F.lit(0), F.size("toks") - n),
            )
        ).alias("pos"),
    ).select(
        "__id",
        "pos",
        F.xxhash64(
            F.array_join(F.expr(f"slice(toks, pos + 1, {n})"), " ")
        ).alias("h"),
    )
    bkt = (
        winh.groupBy("h")
        .agg(F.min("__id").alias("o"), F.max("__id").alias("m"))
        .filter(F.col("o") != F.col("m"))
        .select("h")
    )
    # Phase 2: candidate rows only — re-attach the gram by
    # re-slicing the doc's token array, then verify exactly.
    candg = (
        winh.join(bkt, "h", "left_semi")
        .join(base, "__id")
        .select(
            "__id",
            "pos",
            "h",
            F.array_join(
                F.expr(f"slice(toks, pos + 1, {n})"), " "
            ).alias("gram"),
        )
    )
    grp = (
        candg.groupBy("h", "gram")
        .agg(
            F.min("__id").alias("owner"),
            F.max("__id").alias("maxd"),
        )
        .filter(F.col("owner") != F.col("maxd"))
        .select("h", "gram", "owner")
    )
    mark = candg.join(grp, ["h", "gram"]).filter(
        F.col("__id") != F.col("owner")
    )
    cover = mark.select(
        "__id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (n - 1))
        ).alias("tp"),
    ).distinct()
    toku = base.select("__id", F.posexplode("toks").alias("tp", "tok"))
    kept = toku.join(cover, ["__id", "tp"], "left_anti")
    cleaned = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("cleaned")
    )
    nrem = cover.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        base.select("__id")
        .join(nrem, "__id", "left")
        .join(cleaned, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )
