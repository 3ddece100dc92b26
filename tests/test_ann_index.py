"""Persisted, CDC-maintained IVF index (operators/ann_index.py —
VERDICT r11 task #2). The oracle-hashed lifecycle runs as the
registered ``sim_index_incremental`` query; these tests pin the
contracts the oracle can't see:

- refresh() is O(churn): its counters equal the commit's change-set
  size and the assignments table's own CDC shows ONLY changed ids
- deletes leave no stale assignment row
- the index is durable: a fresh handle over the same paths serves the
  identical top-k without rebuilding
- serving is pruned: the probed-cell read keeps a strict subset of
  the assignment files
- the drift fence: adversarial churn degrades quality past the
  threshold, maybe_rebuild() retrains, quality recovers, and the
  full-probe serve equals brute force again
- the kmeans trainer uses the same storage/maintenance plane
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from stupp_exclusion_etl_spark.operators.ann_index import PersistedIvfIndex
from stupp_exclusion_etl_spark.sinks.atomic import AtomicParquetTable

DIM = 8
N_CLUSTERS = 4


def _vec(cluster: int, jitter: int) -> list[float]:
    """Deterministic clustered vector: a dominant axis pair per
    cluster plus a small id-dependent perturbation."""
    v = [0.05 * ((jitter * (i + 3)) % 7 - 3) for i in range(DIM)]
    v[cluster * 2] += 4.0
    v[cluster * 2 + 1] += 2.0
    return [float(x) for x in v]


def _mk_corpus(spark, path, n=200):
    rows = [
        (i, _vec(i % N_CLUSTERS, i), 0)
        for i in range(1, n + 1)
    ]
    t = AtomicParquetTable(spark, path, keys=["vec_id"])
    t.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    return t


def _brute(spark, corpus, qvec, k=10):
    from stupp_exclusion_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    q = spark.createDataFrame([(qvec,)], "q array<float>")
    return sorted(
        (r[0], r[1])
        for r in brute_force_topk(
            corpus.read(), q, k=k, vec_col="embedding", id_col="vec_id"
        ).collect()
    )


def _served(idx, spark, qvec, k=10, n_probe=None):
    q = spark.createDataFrame([(qvec,)], "q array<float>")
    return sorted(
        (r.vec_id, r.cos_sim)
        for r in idx.topk(q, k=k, n_probe=n_probe).collect()
    )


def test_refresh_is_o_churn_and_delete_hygiene(spark, tmp_path):
    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    info = idx.build()
    assert info["baseline_quality"] > 0.8  # clustered data: tight cells

    a_v0 = idx.assignments.current_version()
    # churn: 5 updates (move to another cluster's vector), 3 inserts,
    # 4 deletes — three commits, three refreshes
    upd = spark.createDataFrame(
        [(i, _vec((i + 1) % N_CLUSTERS, i + 7), 1) for i in (1, 5, 9, 13, 17)],
        "vec_id long, embedding array<float>, ts long",
    )
    corpus.upsert(upd, [F.col("ts").desc()])
    r1 = idx.refresh()
    assert (r1["n_upserted"], r1["n_deleted"]) == (5, 0)

    ins = spark.createDataFrame(
        [(i, _vec(i % N_CLUSTERS, i), 2) for i in (501, 502, 503)],
        "vec_id long, embedding array<float>, ts long",
    )
    corpus.upsert(ins, [F.col("ts").desc()])
    r2 = idx.refresh()
    assert (r2["n_upserted"], r2["n_deleted"]) == (3, 0)

    corpus.delete_keys(
        spark.createDataFrame([(i,) for i in (2, 6, 10, 501)], "vec_id long")
    )
    r3 = idx.refresh()
    assert (r3["n_upserted"], r3["n_deleted"]) == (0, 4)

    # the assignments table's OWN change feed across the whole
    # maintenance window touches exactly the churned ids — the
    # incremental contract, observed from the state table itself
    ch = idx.assignments.changes(a_v0, idx.assignments.current_version())
    touched = {(r.vec_id, r._change_type) for r in ch.collect()}
    # endpoint-snapshot semantics: 501 (inserted then deleted inside
    # the window) nets out of the feed entirely
    assert touched == (
        {(i, "update") for i in (1, 5, 9, 13, 17)}
        | {(i, "insert") for i in (502, 503)}
        | {(i, "delete") for i in (2, 6, 10)}
    ), touched

    # no stale assignment rows for deleted keys
    live = {r.vec_id for r in idx.assignments.read().collect()}
    assert not live & {2, 6, 10, 501}
    assert live == {r.vec_id for r in corpus.read().collect()}

    # full-probe serve equals brute force on the final snapshot
    qv = _vec(1, 999)
    assert _served(idx, spark, qv, n_probe=N_CLUSTERS) == _brute(
        spark, corpus, qv
    )


def test_index_is_durable_across_handles(spark, tmp_path):
    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    idx.build()
    qv = _vec(2, 123)
    before = _served(idx, spark, qv)

    # a brand-new handle (fresh process in production) serves the
    # same answer from the persisted tables — no build, no retrain
    idx2 = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    assert _served(idx2, spark, qv) == before
    # and its cursor survives too: refresh on an unchanged corpus is
    # the cheap no-op
    r = idx2.refresh()
    assert (r["n_upserted"], r["n_deleted"]) == (0, 0)


def test_serving_read_is_pruned_to_probed_cells(spark, tmp_path):
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=400)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=1,
    )
    idx.build()
    q = spark.createDataFrame([(_vec(0, 42),)], "q array<float>")
    cells = idx.probe_cells(q, n_probe=1)
    assert len(cells) == 1
    rep = idx.assignments.skipping_report([("cell", "in", cells)])
    # cell-clustered layout: the probe reads a strict subset of files
    assert 0 < rep["files_kept"] < rep["files_total"], rep


def test_drift_fence_triggers_rebuild_and_recovers(spark, tmp_path):
    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    info = idx.build()
    base_q = info["baseline_quality"]

    # benign churn stays inside the fence
    assert idx.maybe_rebuild(max_drop=0.05) is False

    # adversarial churn: rotate EVERY vector to a different cluster's
    # axis pair — frozen centroids now describe the wrong geometry
    shifted = spark.createDataFrame(
        [
            (i, _vec((i + 2) % N_CLUSTERS, i * 3 + 1), 9)
            for i in range(1, 201)
        ],
        "vec_id long, embedding array<float>, ts long",
    )
    corpus.upsert(shifted, [F.col("ts").desc()])
    idx.refresh()
    # refresh kept the index CONSISTENT (each vector at its nearest
    # frozen centroid) — quality may not crater on symmetric shifts,
    # so degrade the geometry for real: collapse all vectors toward a
    # diagonal no frozen centroid points at
    diag = [1.0] * DIM
    mush = spark.createDataFrame(
        [
            (i, [x + 0.03 * i for x in diag], 10)
            for i in range(1, 201)
        ],
        "vec_id long, embedding array<float>, ts long",
    )
    corpus.upsert(mush, [F.col("ts").desc()])
    idx.refresh()
    q_drifted = idx.quality()
    assert q_drifted < base_q - 0.05, (base_q, q_drifted)

    assert idx.maybe_rebuild(max_drop=0.05) is True
    q_rebuilt = idx.quality()
    assert q_rebuilt > q_drifted
    # retrained index serves brute-force-exact again under full probe
    qv = [1.0] * DIM
    assert _served(idx, spark, qv, n_probe=N_CLUSTERS) == _brute(
        spark, corpus, qv
    )
    # and the baseline was re-anchored so the fence re-arms
    assert idx.maybe_rebuild(max_drop=0.05) is False


def test_kmeans_trainer_same_plane(spark, tmp_path):
    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2, trainer="kmeans",
    )
    info = idx.build()
    # real k-means on 4 synthetic clusters: near-perfect cells
    assert info["baseline_quality"] > 0.9
    qv = _vec(3, 77)
    assert _served(idx, spark, qv, n_probe=N_CLUSTERS) == _brute(
        spark, corpus, qv
    )
    # incremental maintenance identical under the kmeans plane
    corpus.upsert(
        spark.createDataFrame(
            [(999, _vec(3, 5), 1)],
            "vec_id long, embedding array<float>, ts long",
        ),
        [F.col("ts").desc()],
    )
    r = idx.refresh()
    assert (r["n_upserted"], r["n_deleted"]) == (1, 0)
    assert 999 in {r.vec_id for r in idx.assignments.read().collect()}


def test_pq_codes_persisted_and_adc_serving(spark, tmp_path):
    """pq=(m, k): the codebook and per-vector codes persist as index
    artifacts; refresh re-encodes ONLY changed vectors through the
    frozen codebook; full-probe ADC from the persisted codes equals
    ADC over a from-scratch encode of the final corpus (the
    maintenance-correctness oracle); a fresh handle serves without
    retraining."""
    from stupp_exclusion_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode_arrow,
    )

    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2, pq=(4, 8),
    )
    idx.build()
    # codebook persisted: m*k rows
    assert idx.codebook.read().count() == 4 * 8
    book = idx._load_codebook()
    assert len(book) == 4 and len(book[0]) == 8 and len(book[0][0]) == 2

    # churn: updates + insert + delete, maintained incrementally
    corpus.upsert(
        spark.createDataFrame(
            [(i, _vec((i + 1) % N_CLUSTERS, i + 3), 1) for i in (2, 9, 33)]
            + [(777, _vec(1, 5), 1)],
            "vec_id long, embedding array<float>, ts long",
        ),
        [F.col("ts").desc()],
    )
    corpus.delete_keys(spark.createDataFrame([(4,)], "vec_id long"))
    r = idx.refresh()
    assert r["n_upserted"] == 4 and r["n_deleted"] == 1

    qv = [float(x) for x in _vec(1, 321)]
    served = sorted(
        (r.vec_id, r.adc_score)
        for r in idx.topk_adc(qv, k=10, n_probe=N_CLUSTERS).collect()
    )
    fresh_codes = pq_encode_arrow(corpus.read(), book)
    want = sorted(
        (r.vec_id, r.adc_score)
        for r in pq_adc_topk(fresh_codes, book, qv, k=10).collect()
    )
    assert served == want, "persisted codes diverged from re-encode"

    # pruned ADC probe reads only probed cells' rows and stays sane
    top1 = idx.topk_adc(qv, k=1, n_probe=1).collect()
    assert len(top1) == 1
    # the driver scan ADC serving takes reads the codes, not the vectors
    cols = ["vec_id", "cell", "codes"]
    scan, schema = idx.assignments._driver_read([("cell", "in", [0, 1])], cols)
    assert scan.column_names == cols and schema.names == cols
    assert set(scan.column("cell").to_pylist()) <= {0, 1} and scan.num_rows

    # durability: a new handle loads the codebook from its table
    idx2 = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2, pq=(4, 8),
    )
    served2 = sorted(
        (r.vec_id, r.adc_score)
        for r in idx2.topk_adc(qv, k=10, n_probe=N_CLUSTERS).collect()
    )
    assert served2 == served


def _jobs_for(spark, group: str, fn) -> int:
    """Run fn under a job group and count the Spark jobs it launched
    — the driver-work meter for the batched-serving contract."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_topk_equals_looped_topk(spark, tmp_path):
    """VERDICT r12 task #3: topk_batch over a query TABLE returns,
    per query, EXACTLY what the looped single-query topk returns —
    same cosine, same rounding, same tie-break."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    idx.build()
    qvecs = {i: _vec(i % N_CLUSTERS, 100 + i) for i in range(1, 10)}
    queries = spark.createDataFrame(
        [(i, v) for i, v in qvecs.items()], "qid long, q array<float>"
    )
    by_qid: dict[int, list] = {}
    for r in idx.topk_batch(queries, k=5).collect():
        by_qid.setdefault(r.qid, []).append((r.vec_id, r.cell, r.cos_sim))
    assert sorted(by_qid) == sorted(qvecs)
    for i, v in qvecs.items():
        q = spark.createDataFrame([(v,)], "q array<float>")
        want = [
            (r.vec_id, r.cell, r.cos_sim)
            for r in idx.topk(q, k=5, n_probe=2).collect()
        ]
        assert sorted(by_qid[i]) == sorted(want), i


def test_batch_topk_adc_equals_looped_adc(spark, tmp_path):
    """Batched PQ-ADC: per-query parity with the looped topk_adc —
    the row-wise LUT contraction must be bit-identical to the
    driver-side literal LUT (same accumulation order, same round)."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2, pq=(4, 8),
    )
    idx.build()
    qvecs = {i: [float(x) for x in _vec(i % N_CLUSTERS, 55 + i)]
             for i in range(1, 7)}
    queries = spark.createDataFrame(
        [(i, v) for i, v in qvecs.items()], "qid long, q array<float>"
    )
    by_qid: dict[int, list] = {}
    for r in idx.topk_batch_adc(queries, k=5).collect():
        by_qid.setdefault(r.qid, []).append((r.vec_id, r.adc_score))
    # the batch reads q as array<float>: hand the looped path the
    # same float32-quantized values, not the raw float64 inputs
    quantized = {r.qid: [float(x) for x in r.q] for r in queries.collect()}
    for i in qvecs:
        want = [
            (r.vec_id, r.adc_score)
            for r in idx.topk_adc(quantized[i], k=5, n_probe=2).collect()
        ]
        assert sorted(by_qid[i]) == sorted(want), i


def test_batch_topk_driver_work_is_flat_in_batch_size(spark, tmp_path):
    """The scale contract: the looped path pays driver round-trips
    PER QUERY (query collect + serve), so its job count grows with
    the batch; topk_batch launches ONE job however large the batch
    (the pruned read of the probed cells)."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    idx.build()

    def mk_queries(n):
        # a pandas-built batch is a LocalRelation (as a serving client
        # sends it), so collecting it runs no job
        return spark.createDataFrame(
            pd.DataFrame({
                "qid": list(range(n)),
                "q": [_vec(i % N_CLUSTERS, 200 + i) for i in range(n)],
            }),
            "qid long, q array<float>",
        )

    jb3 = _jobs_for(
        spark, "tb3", lambda: idx.topk_batch(mk_queries(3), k=5).collect()
    )
    jb9 = _jobs_for(
        spark, "tb9", lambda: idx.topk_batch(mk_queries(9), k=5).collect()
    )
    # one job per batch: the pruned read of the probed cells
    assert jb3 <= 1 and jb9 <= 1, (jb3, jb9)

    def looped(n):
        for i in range(n):
            q = spark.createDataFrame(
                [(_vec(i % N_CLUSTERS, 200 + i),)], "q array<float>"
            )
            idx.topk(q, k=5, n_probe=2).collect()

    jl3 = _jobs_for(spark, "tl3", lambda: looped(3))
    jl9 = _jobs_for(spark, "tl9", lambda: looped(9))
    # looped driver work scales with the batch; batched does not
    assert jl9 >= jl3 + 6, (jl3, jl9)
    assert jb9 < jl9, (jb9, jl9)


def test_recall_contract_on_persisted_topk(spark, tmp_path):
    """VERDICT r12 task #6: serving with recall_target= estimates
    recall per probe depth from a bounded sample and ESCALATES
    n_probe until the estimate clears the target. Low-locality
    fixture (pseudo-random vectors, so modmean cells carry no
    geometry): n_probe=1 misses most true neighbors; the fenced serve
    escalates, reports its estimate, and the estimate tracks the
    recall measured against brute force."""
    import warnings as _w

    from stupp_exclusion_etl_spark.operators.recall import (
        last_reroute_info,
    )

    root = str(tmp_path)
    rows = [
        (
            i,
            [float(((i * 37 + d * 101) % 17) - 8) for d in range(DIM)],
            0,
        )
        for i in range(1, 301)
    ]
    corpus = AtomicParquetTable(spark, root + "/corpus", keys=["vec_id"])
    corpus.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index", k_cells=8, n_probe=1
    )
    idx.build()
    qv = [float(((d * 53) % 15) - 7) for d in range(DIM)]

    def measured_recall(served_ids):
        truth = {i for i, _c in _brute(spark, corpus, qv, k=10)}
        return len(set(served_ids) & truth) / len(truth)

    # unfenced n_probe=1: low-locality routing misses true neighbors
    base_ids = [
        r.vec_id
        for r in idx.topk(
            spark.createDataFrame([(qv,)], "q array<float>"), k=10,
            n_probe=1,
        ).collect()
    ]
    base_recall = measured_recall(base_ids)
    assert base_recall < 0.9, base_recall

    # fenced serve: escalates past n_probe=1, reports its estimate
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        served = idx.topk(
            spark.createDataFrame([(qv,)], "q array<float>"), k=10,
            n_probe=1, recall_target=0.7,
        ).collect()
    info = last_reroute_info("persisted_ivf_topk")
    assert info is not None and info["escalated"], info
    assert info["n_probe"] > 1
    assert info["recall_est"] >= 0.7
    got_recall = measured_recall([r.vec_id for r in served])
    assert got_recall >= base_recall
    # the estimate tracks reality (sample-sized tolerance)
    assert abs(info["recall_est"] - got_recall) <= 0.3, (
        info["recall_est"], got_recall,
    )

    # unreachable target within a hard cap -> argmax config + warning
    with pytest.warns(UserWarning, match="estimated recall"):
        idx.topk(
            spark.createDataFrame([(qv,)], "q array<float>"), k=10,
            n_probe=1, recall_target=0.999, max_n_probe=2,
        ).collect()
    capped = last_reroute_info("persisted_ivf_topk")
    assert capped["n_probe"] == 2

    # full-probe target is always reachable: estimate hits 1.0 and the
    # served set IS the brute-force set
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        full = idx.topk(
            spark.createDataFrame([(qv,)], "q array<float>"), k=10,
            n_probe=1, recall_target=1.0,
        ).collect()
    assert last_reroute_info("persisted_ivf_topk")["recall_est"] == 1.0
    assert measured_recall([r.vec_id for r in full]) == 1.0


def test_recall_cap_below_default_n_probe(spark, tmp_path):
    """ADVICE r13 (medium): max_n_probe BELOW the effective n_probe
    must not crash choose_ivf_probe_batch with an empty escalation
    range — the cap wins and the serve runs at the capped depth."""
    import warnings as _w

    from stupp_exclusion_etl_spark.operators.recall import (
        choose_ivf_probe_batch,
        last_reroute_info,
    )

    # unit level: empty-range regression (n_probe=3 > max_n_probe=2)
    sample = [
        (i, i % 3, [float((i * 7 + d) % 5) for d in range(4)])
        for i in range(30)
    ]
    info = choose_ivf_probe_batch(
        sample, [[1.0, 0.0, 2.0, 1.0]], 5, [[0, 1, 2]], 3, 0.9, 2
    )
    assert info is not None and info["n_probe"] <= 2

    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index", k_cells=4, n_probe=3
    )
    idx.build()
    q = spark.createDataFrame([(_vec(1, 999),)], "q array<float>")
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        rows = idx.topk(
            q, k=5, recall_target=0.9, max_n_probe=2
        ).collect()
    assert len(rows) == 5
    assert last_reroute_info("persisted_ivf_topk")["n_probe"] <= 2
    with pytest.raises(ValueError, match="max_n_probe"):
        idx.topk(q, k=5, recall_target=0.9, max_n_probe=0)


def test_recall_fence_on_never_built_index(spark, tmp_path):
    """ADVICE r13 (low): the recall_target branch on a never-built
    index raises the same 'index not built' ValueError as the
    unfenced path, not AttributeError on a None assignments read."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus")
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index", k_cells=4, n_probe=1
    )
    q = spark.createDataFrame([(_vec(0, 7),)], "q array<float>")
    with pytest.raises(ValueError, match="index not built"):
        idx.topk(q, k=5, recall_target=0.9).collect()


def test_recall_contract_on_batched_serving(spark, tmp_path):
    """VERDICT r13 next-round #4: topk_batch(recall_target=) shares
    topk's estimate-and-escalate machinery with the escalation
    decided ONCE per batch. Low-locality fixture (pseudo-random
    vectors): the batch path escalates n_probe past the floor, the
    reported (conservative, min-over-sampled-queries) estimate
    tracks recall measured against brute force, and the unfenced
    batch result is unchanged by the feature's existence."""
    import warnings as _w

    from stupp_exclusion_etl_spark.operators.recall import (
        last_reroute_info,
    )

    root = str(tmp_path)
    rows = [
        (
            i,
            [float(((i * 37 + d * 101) % 17) - 8) for d in range(DIM)],
            0,
        )
        for i in range(1, 301)
    ]
    corpus = AtomicParquetTable(spark, root + "/corpus", keys=["vec_id"])
    corpus.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/index", k_cells=8, n_probe=1
    )
    idx.build()
    qvs = [
        (j, [float(((d * 53 + j * 11) % 15) - 7) for d in range(DIM)])
        for j in range(1, 4)
    ]
    qdf = spark.createDataFrame(qvs, "qid long, q array<float>")

    def recalls(served_rows):
        by_q = {}
        for r in served_rows:
            by_q.setdefault(r.qid, set()).add(r.vec_id)
        out = {}
        for qid, qv in qvs:
            truth = {i for i, _c in _brute(spark, corpus, qv, k=10)}
            out[qid] = len(by_q.get(qid, set()) & truth) / len(truth)
        return out

    base = idx.topk_batch(qdf, k=10, n_probe=1).collect()
    base_rec = recalls(base)
    assert min(base_rec.values()) < 0.9, base_rec

    with _w.catch_warnings():
        _w.simplefilter("ignore")
        fenced = idx.topk_batch(
            qdf, k=10, n_probe=1, recall_target=0.7
        ).collect()
    info = last_reroute_info("persisted_ivf_topk_batch")
    assert info is not None and info["escalated"], info
    assert info["n_probe"] > 1
    assert info["recall_est"] >= 0.7
    assert info["sampled_queries"] == 3
    fr = recalls(fenced)
    # conservative min-estimate: every query's measured recall is
    # within sample tolerance of the reported floor
    for qid in fr:
        assert fr[qid] >= base_rec[qid] - 1e-9, (qid, fr, base_rec)
    assert abs(info["recall_est"] - min(fr.values())) <= 0.3, (
        info, fr,
    )

    # full-probe target: served set IS brute force for every query
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        full = idx.topk_batch(
            qdf, k=10, n_probe=1, recall_target=1.0
        ).collect()
    assert last_reroute_info("persisted_ivf_topk_batch")[
        "recall_est"
    ] == 1.0
    assert all(v == 1.0 for v in recalls(full).values())

    # unreachable target under a hard cap -> warning + capped depth
    with pytest.warns(UserWarning, match="estimated recall"):
        idx.topk_batch(
            qdf, k=10, n_probe=1, recall_target=0.999, max_n_probe=2
        ).collect()
    assert last_reroute_info("persisted_ivf_topk_batch")["n_probe"] == 2

    # ADC twin records under its own op key
    root2 = str(tmp_path / "pq")
    idxp = PersistedIvfIndex(
        spark, root + "/corpus", root2, k_cells=8, n_probe=1,
        pq=(4, 8),
    )
    idxp.build()
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        adc = idxp.topk_batch_adc(
            qdf, k=10, n_probe=1, recall_target=0.7
        ).collect()
    inf2 = last_reroute_info("persisted_ivf_topk_batch_adc")
    assert inf2 is not None and inf2["n_probe"] > 1
    assert len(adc) == 30


# -- scale-adaptive layout + large-k Arrow assignment (r15) ------------


def test_target_cell_rows_derives_k_from_corpus(spark, tmp_path):
    """target_cell_rows makes the cell count scale with the corpus so
    probed-cell size stays bounded (VERDICT r14 next-round #1); the
    configured k_cells is the FLOOR, so small corpora keep the fixed
    layout byte-identically."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=200)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx_scaled",
        k_cells=4, n_probe=2, target_cell_rows=32,
    )
    idx.build()
    assert idx.k_cells == 7  # ceil(200 / 32)
    assert idx.centroids.read().count() == 7
    assert idx.assignments.read().count() == 200

    idx_floor = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx_floor",
        k_cells=4, n_probe=2, target_cell_rows=1000,
    )
    idx_floor.build()
    assert idx_floor.k_cells == 4  # floor wins below k * target rows


def test_arrow_assign_matches_join_window_reference(spark, tmp_path):
    """A large-k (k > 64) layout assigns through the kernel's
    mapInArrow pass; pin it cell-for-cell and bit-for-bit against the
    reference crossJoin + row_number argmax (the pre-r15 fallback
    route), including a zero vector (every cosine NULL under
    try_divide -> lowest cell, NULL cent_cos)."""
    from pyspark.sql.window import Window

    from stupp_exclusion_etl_spark.functions.vectors import cosine

    root = str(tmp_path)
    n = 299
    rows = [(i, _vec(i % N_CLUSTERS, i), 0) for i in range(1, n + 1)]
    rows.append((n + 1, [0.0] * DIM, 0))  # zero vector
    t = AtomicParquetTable(spark, root + "/corpus", keys=["vec_id"])
    t.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx",
        k_cells=72, n_probe=3,
    )
    assert idx.k_cells > 64
    idx.build()

    assigned = idx._assign(t.read().select("vec_id", "embedding"))
    got = {r.vec_id: (r.cell, r.cent_cos) for r in assigned.collect()}

    cents = idx.centroids.read().select("cell", "centroid")
    scored = (
        t.read()
        .select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("__c", cosine(F.col("embedding"), F.col("centroid")))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__c").desc_nulls_last(), F.col("cell").asc()
    )
    ref = {
        r["vec_id"]: (r["cell"], r["__c"])
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert set(got) == set(ref) and len(got) == n + 1
    for vid, (cell, cos) in got.items():
        rcell, rcos = ref[vid]
        assert cell == rcell, f"vec {vid}: arrow cell {cell} != {rcell}"
        assert (cos is None) == (rcos is None), f"vec {vid} null mismatch"
        if cos is not None:
            assert cos == rcos, f"vec {vid}: {cos!r} != {rcos!r}"
    # the zero vector: all-NULL cosines keep the lowest cell
    assert got[n + 1][0] == min(r[0] for r in cents.select("cell").collect())
    assert got[n + 1][1] is None


def test_scaled_layout_batch_serving_matches_looped(spark, tmp_path):
    """End-to-end under an auto-scaled k > 64 layout (arrow-assigned
    build): batched serving still equals the looped single-query serve
    per query."""
    root = str(tmp_path)
    t = _mk_corpus(spark, root + "/corpus", n=280)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx",
        k_cells=8, n_probe=3, target_cell_rows=4,
    )
    idx.build()
    assert idx.k_cells == 70  # ceil(280 / 4) -> arrow assign path
    qvecs = [(100 + j, _vec(j % N_CLUSTERS, 31 * j + 5)) for j in range(3)]
    qdf = spark.createDataFrame(qvecs, "qid long, q array<float>")
    batch = idx.topk_batch(qdf, k=5, n_probe=3).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.qid, []).append((r.vec_id, r.cell, r.cos_sim))
    for qid, qv in qvecs:
        single = spark.createDataFrame([(qv,)], "q array<float>")
        loop = [
            (r.vec_id, r.cell, r.cos_sim)
            for r in idx.topk(single, k=5, n_probe=3).collect()
        ]
        assert by_q[qid] == loop, f"query {qid} batch != looped"


def test_stored_cent_cos_equals_recomputed_quality(spark, tmp_path):
    """quality() now aggregates the STORED cent_cos column; pin it
    bit-for-bit against the pre-r15 recompute (broadcast centroid join
    + cosine re-fold) after build AND after churn refreshes, and pin
    the drift check's job count (manifest-stats emptiness + one
    single-column aggregate + the meta lookup)."""
    from stupp_exclusion_etl_spark.functions.vectors import cosine

    root = str(tmp_path)
    t = _mk_corpus(spark, root + "/corpus", n=120)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    idx.build()

    def recomputed() -> float:
        a = idx.assignments.read()
        cents = idx.centroids.read().select("cell", "centroid")
        return float(
            a.join(F.broadcast(cents), "cell")
            .select(
                cosine(F.col("embedding"), F.col("centroid")).alias("c")
            )
            .agg(F.avg("c"))
            .collect()[0][0]
        )

    assert idx.quality() == recomputed()

    # churn: re-embed a stripe, refresh, metric must track the stored
    # column identically
    upd = [
        (i, _vec((i + 1) % N_CLUSTERS, i + 7), 1)
        for i in range(1, 121, 9)
    ]
    t.upsert(
        spark.createDataFrame(
            upd, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    idx.refresh()
    assert idx.quality() == recomputed()

    jobs = _jobs_for(
        spark, "drift-check", lambda: idx.maybe_rebuild(max_drop=0.9)
    )
    assert jobs <= 4, f"drift check ran {jobs} jobs (want <= 4)"


def test_cursor_rides_final_commit_and_crash_replays(spark, tmp_path):
    """The applied cursor rides the refresh's FINAL data commit as its
    batch_id (no separate meta commit, no torn window). Pin:
    (a) a refresh writes NO meta version — the cursor is recovered
        from assignments.last_batch_id() and a fresh handle still
        no-ops on an unchanged corpus;
    (b) a refresh that crashes between its delete and upsert commits
        replays to exactly the uninterrupted outcome (the cursor only
        advances with the final commit);
    (c) a replayed refresh after success is a no-op."""
    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus", n=100)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    idx.build()
    meta_v_after_build = idx.meta.current_version()

    # churn with BOTH deletes and upserts in one commit window
    corpus.delete_keys(
        spark.createDataFrame([(i,) for i in (3, 7)], "vec_id long")
    )
    corpus.upsert(
        spark.createDataFrame(
            [(i, _vec((i + 1) % N_CLUSTERS, i + 11), 5) for i in (4, 8, 101)],
            "vec_id long, embedding array<float>, ts long",
        ),
        [F.col("ts").desc()],
    )

    # simulate the crash: run ONLY the delete half of the refresh the
    # way refresh() does (no batch_id on the non-final commit), then
    # "crash" before the upsert — the cursor must NOT have advanced
    head = corpus.current_version()
    doomed = spark.createDataFrame([(3,), (7,)], "vec_id long")
    idx.assignments.delete_keys(doomed, batch_id=None, _probe=(doomed, True))
    assert idx.assignments.last_batch_id() is None  # cursor unmoved

    # replay: the full refresh re-consumes the SAME feed idempotently
    r = idx.refresh()
    assert (r["n_deleted"], r["n_upserted"]) == (2, 3)
    live = {row.vec_id for row in idx.assignments.read().collect()}
    assert live == {row.vec_id for row in corpus.read().collect()}
    assert 3 not in live and 7 not in live and 101 in live

    # (a) cursor rode the data commit: meta untouched since build,
    # last_batch_id is the corpus head
    assert idx.meta.current_version() == meta_v_after_build
    assert idx.assignments.last_batch_id() == head

    # (c) replay after success: no-op, and a FRESH handle agrees
    r2 = idx.refresh()
    assert (r2["n_deleted"], r2["n_upserted"]) == (0, 0)
    idx2 = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx",
        k_cells=N_CLUSTERS, n_probe=2,
    )
    r3 = idx2.refresh()
    assert (r3["n_deleted"], r3["n_upserted"]) == (0, 0)


# -- the one kernel: routing, scoring and assignment ---------------------


def _same_double(a, b) -> bool:
    """Bit-level equality of two nullable doubles (NaN equals NaN)."""
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return a == b and math.copysign(1, a) == math.copysign(1, b)


def test_kernel_cosine_is_bit_identical_to_spark_cosine(spark):
    """The kernel's left-to-right float64 cosine equals
    functions.vectors.cosine bit for bit, and agrees on every NULL and
    NaN: zero, NULL, ragged, NULL-element and NaN-element vectors."""
    import numpy as np
    import pyarrow as pa

    from stupp_exclusion_etl_spark.functions.vectors import cosine
    from stupp_exclusion_etl_spark.operators.ann_index import (
        _cosines,
        _parts,
    )

    # sizes large enough that a BLAS matmul or norm would differ from
    # the left-to-right sums in some last bits
    rng = np.random.default_rng(11)
    vecs = [
        rng.normal(size=DIM).astype(np.float32).tolist() for _ in range(500)
    ]
    vecs += [
        [0.0] * DIM,                     # zero norm
        None,                            # NULL row
        vecs[0][:-1],                    # ragged
        vecs[1][:3] + [None] + vecs[1][4:],  # NULL element
        vecs[2][:2] + [float("nan")] + vecs[2][3:],  # NaN element
        [1e-30] * DIM,                   # underflowing products
        [3.0e38, -3.0e38] + [1.0] * (DIM - 2),  # overflowing norm
    ]
    queries = [
        rng.normal(size=DIM).astype(np.float32).tolist() for _ in range(70)
    ]
    queries += [[0.0] * DIM, vecs[0][:-1], [float("nan")] * DIM]
    rows = spark.createDataFrame(
        list(enumerate(vecs)), "i int, v array<float>"
    ).crossJoin(
        spark.createDataFrame(
            list(enumerate(queries)), "j int, q array<float>"
        )
    )
    want = {
        (r.i, r.j): r.c
        for r in rows.select(
            "i", "j", cosine(F.col("v"), F.col("q")).alias("c")
        ).collect()
    }
    f32 = pa.list_(pa.float32())
    a, b = _parts(pa.array(vecs, f32)), _parts(pa.array(queries, f32))
    cos, null = _cosines(a, np.arange(len(vecs)), b, np.arange(len(queries)))
    for (i, j), c in want.items():
        got = None if null[i, j] else float(cos[i, j])
        assert _same_double(got, c), (i, j, got, c)


def test_kernel_round_matches_spark_round(spark):
    """Kernel rounding equals Spark's round(x, 6) on doubles: exact
    half-way decimals (HALF_UP, away from zero for negatives), values
    a hair off a half, NaN/inf pass-through, negative results that
    round to zero, and random doubles."""
    import numpy as np

    from stupp_exclusion_etl_spark.operators.ann_index import _round6

    xs = []
    for n in (0, 1, 2, 7, 123456, 499999, 999999, 1000000):
        h = (n + 0.5) / 1e6
        xs += [h, -h, np.nextafter(h, 0), np.nextafter(h, 1)]
    xs += [0.1234565, -0.1234565, 0.9999995, -0.9999995, 1.0000005,
           2.5e-7, -2.5e-7, 4.9999999e-7, -1e-9, -0.0, 0.0, 1e300,
           -1.7e308, 5e-324, 123456789.0000005, 4503599627.3704965,
           float("nan"), float("inf"), float("-inf")]
    xs += np.random.default_rng(3).uniform(-1, 1, 200).tolist()
    df = spark.createDataFrame([(i, float(x)) for i, x in enumerate(xs)],
                               "i int, x double")
    want = {
        r.i: r.r
        for r in df.select("i", F.round("x", 6).alias("r")).collect()
    }
    got = _round6(np.asarray(xs, dtype=np.float64))
    for i, x in enumerate(xs):
        assert _same_double(float(got[i]), want[i]), (x, got[i], want[i])


def test_batch_topk_exact_under_heavy_ties(spark, tmp_path, monkeypatch):
    """More than 3k candidates share one rounded score: the kernel's
    top-k equals the reference window top-k (round(cosine, 6) DESC
    NULLS LAST, id ASC) row for row, NULL-scoring zero vectors and a
    zero query included — also when each cell is scored in many small
    blocks whose partial top-ks are merged."""
    from pyspark.sql.window import Window

    from stupp_exclusion_etl_spark.functions.vectors import cosine
    from stupp_exclusion_etl_spark.operators import ann_index

    root = str(tmp_path)
    same = _vec(0, 1)
    rows = [
        (i, [0.0] * DIM if i % 50 == 0
         else _vec(i % N_CLUSTERS, i) if i % 7 == 0 else same, 0)
        for i in range(1, 4001)
    ]
    assert sum(r[1] is same for r in rows) > 3000
    corpus = AtomicParquetTable(spark, root + "/corpus", keys=["vec_id"])
    corpus.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=2, n_probe=2
    )
    idx.build()
    qs = [(1, same), (2, _vec(2, 5)), (3, [0.0] * DIM)]
    qdf = spark.createDataFrame(qs, "qid long, q array<float>")
    got = sorted(tuple(r) for r in idx.topk_batch(qdf, k=12).collect())

    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc_nulls_last(), F.col("vec_id")
    )
    ref = (
        idx.assignments.read()
        .crossJoin(qdf)
        .select("qid", "vec_id", "cell",
                F.round(cosine(F.col("embedding"), F.col("q")), 6)
                .alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn <= 12")
        .drop("rn")
    )
    assert got == sorted(tuple(r) for r in ref.collect())
    assert len(got) == 36
    monkeypatch.setattr(ann_index, "_BLOCK", 100)  # 9-row blocks
    assert got == sorted(
        tuple(r) for r in idx.topk_batch(qdf, k=12).collect()
    )


def test_nan_element_vector_assigns_alike_at_any_k(spark, tmp_path):
    """A NaN-element vector scores NaN against every centroid; NaN
    ranks above every double, so it lands on the lowest cell with a
    NaN cent_cos — the same answer with k <= 64 and k > 64 (the old
    literal fold and Arrow routes disagreed), and the one the Spark
    expressions give (array_max over the cosines). A NaN centroid
    (its seed group held a NaN vector) likewise wins over every
    finite cosine."""
    from stupp_exclusion_etl_spark.functions.vectors import cosine

    root = str(tmp_path)
    corpus = _mk_corpus(spark, root + "/corpus", n=150)
    corpus.upsert(
        spark.createDataFrame(
            [(3, [float("nan")] + _vec(3, 3)[1:], 1)],
            "vec_id long, embedding array<float>, ts long",
        ),
        [F.col("ts").desc()],
    )
    probe = spark.createDataFrame(
        [(900, [float("nan")] + _vec(1, 3)[1:]), (901, _vec(2, 5))],
        "vec_id long, embedding array<float>",
    )
    for k in (4, 75):
        idx = PersistedIvfIndex(
            spark, root + "/corpus", root + f"/idx{k}", k_cells=k, n_probe=2
        )
        idx.build()
        cents = sorted(
            (r.cell, r.centroid) for r in idx.centroids.read().collect()
        )
        cs = F.array(
            *[cosine(F.col("embedding"), F.lit(c)) for _i, c in cents]
        )
        ref = {
            r.vec_id: (cents[r.pos - 1][0], r.best)
            for r in probe.select(
                "vec_id",
                F.array_max(cs).alias("best"),
                F.array_position(cs, F.array_max(cs)).alias("pos"),
            ).collect()
        }
        got = {
            r.vec_id: (r.cell, r.cent_cos)
            for r in idx._assign(probe).collect()
        }
        assert got[900][0] == cents[0][0] and math.isnan(got[900][1]), got
        assert got[901][0] == 3 and math.isnan(got[901][1]), got
        for vid, (cell, cos) in got.items():
            assert cell == ref[vid][0] and _same_double(cos, ref[vid][1])
    assert corpus.read().count() == 150


def test_capped_placement_serves_identical_rows(spark, tmp_path, monkeypatch):
    """Above the driver byte budget the kernel runs in Arrow tasks
    over the pruned read plus a per-query top-k merge: with the budget
    below zero the rows equal the driver placement's, in the same rank
    order, for the batch and the single-query serve."""
    from stupp_exclusion_etl_spark.sinks import atomic

    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=300)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=N_CLUSTERS, n_probe=2
    )
    idx.build()
    qs = [(j, _vec(j % N_CLUSTERS, 40 + j)) for j in range(6)]
    qdf = spark.createDataFrame(qs, "qid long, q array<float>")
    one = spark.createDataFrame([(qs[1][1],)], "q array<float>")

    def serve():
        return (
            [tuple(r) for r in idx.topk_batch(qdf, k=7).collect()],
            [tuple(r) for r in idx.topk(one, k=7).collect()],
        )

    driver = serve()
    assert not _task_placed(idx.topk_batch(qdf, k=7))
    # a table off the local filesystem keeps the driver placement: its
    # probed rows come from one collect of the FileScan
    monkeypatch.setitem(idx.assignments.__dict__, "_local_root", None)
    assert not _task_placed(idx.topk_batch(qdf, k=7))
    assert serve() == driver
    monkeypatch.setattr(atomic, "_DRIVER_SCAN_BYTES", -1)
    assert _task_placed(idx.topk_batch(qdf, k=7))
    # keep the merge's 8 shuffle partitions apart, as a large read
    # would: the row order must come from the sort, not from a
    # coalesced single partition
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        tasks = serve()
    finally:
        spark.conf.set(key, before)
    assert tasks[0] == driver[0] and len(driver[0]) == 42
    assert tasks[1] == driver[1] and len(driver[1]) == 7


def _task_placed(df) -> bool:
    return "MapInArrow" in df._jdf.queryExecution().executedPlan().toString()


def test_probe_bytes_not_rows_choose_the_placement(spark, tmp_path, monkeypatch):
    """The placement follows the probed files' BYTES in the manifest,
    against the sink's one driver budget: a budget one byte below them
    serves from Arrow tasks, a budget equal to them from the driver,
    with identical rows."""
    from stupp_exclusion_etl_spark.sinks import atomic

    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=120)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=N_CLUSTERS, n_probe=2
    )
    idx.build()
    qdf = spark.createDataFrame(
        [(j, _vec(j % N_CLUSTERS, 7 + j)) for j in range(3)],
        "qid long, q array<float>",
    )
    small = idx.topk_batch(qdf, k=5)
    assert not _task_placed(small)
    routes = idx._probe(idx._queries(qdf, "q")[2], idx.n_probe)
    where = [("cell", "in", sorted(set(routes.ravel().tolist())))]
    man = idx.assignments._manifest(idx.assignments.current_version())
    kept = idx.assignments._prune_files(
        man, [f for fl in man["partitions"].values() for f in fl], where
    )
    nbytes = sum(man["stats"][f]["bytes"] for f in kept)
    assert nbytes > 0
    monkeypatch.setattr(atomic, "_DRIVER_SCAN_BYTES", nbytes)
    assert not _task_placed(idx.topk_batch(qdf, k=5))
    monkeypatch.setattr(atomic, "_DRIVER_SCAN_BYTES", nbytes - 1)
    big = idx.topk_batch(qdf, k=5)
    assert _task_placed(big)
    assert [tuple(r) for r in big.collect()] == [
        tuple(r) for r in small.collect()
    ]


def test_fresh_handle_full_recall_equals_brute_force(spark, tmp_path):
    """The escalation cap is the PERSISTED cell count: a fresh handle
    on a target_cell_rows index (configured k_cells is only the
    floor) escalates over every live cell, so recall_target=1.0
    serves exactly numpy brute force."""
    import warnings as _w

    import numpy as np

    root = str(tmp_path)
    rows = [
        (i, [float(((i * 37 + d * 101) % 17) - 8) for d in range(DIM)], 0)
        for i in range(1, 301)
    ]
    corpus = AtomicParquetTable(spark, root + "/corpus", keys=["vec_id"])
    corpus.upsert(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, ts long"
        ),
        [F.col("ts").desc()],
    )
    PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=4, n_probe=1,
        target_cell_rows=30,
    ).build()
    fresh = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=4, n_probe=1
    )
    qs = [(j, [float(((d * 53 + j * 11) % 15) - 7) for d in range(DIM)])
          for j in range(1, 4)]
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        served = fresh.topk_batch(
            spark.createDataFrame(qs, "qid long, q array<float>"),
            k=10, recall_target=1.0,
        ).collect()
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    ids = np.asarray([r[0] for r in rows])
    for qid, qv in qs:
        q = np.asarray(qv)
        cos = (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
        order = np.lexsort((ids, -np.round(cos, 6)))[:10]
        want = {int(i) for i in ids[order]}
        assert {r.vec_id for r in served if r.qid == qid} == want, qid


def test_quality_recomputes_when_cent_cos_is_missing(spark, tmp_path):
    """An index built before the stored cent_cos column: quality()
    recomputes the cosines through the kernel against the centroids
    instead of failing, and equals the stored-column metric."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=120)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=N_CLUSTERS, n_probe=2
    )
    idx.build()
    stored = idx.quality()
    legacy = root + "/legacy"
    AtomicParquetTable(spark, legacy + "/centroids", keys=["cell"]).upsert(
        idx.centroids.read(), [F.col("ts").desc()]
    )
    AtomicParquetTable(
        spark, legacy + "/assignments", keys=["vec_id"], cluster_by=["cell"]
    ).upsert(idx.assignments.read().drop("cent_cos"), [F.col("ts").desc()])
    old = PersistedIvfIndex(
        spark, root + "/corpus", legacy, k_cells=N_CLUSTERS, n_probe=2
    )
    assert "cent_cos" not in old.assignments.read().columns
    assert old.quality() == pytest.approx(stored, rel=1e-12, abs=0)


def test_put_meta_skips_memo_after_foreign_meta_commit(spark, tmp_path):
    """The meta memo is warmed only when this handle's commit is the
    parent's direct successor: when another handle commits meta in
    between, the next lookup reloads and sees the foreign value."""
    root = str(tmp_path)
    _mk_corpus(spark, root + "/corpus", n=60)
    idx = PersistedIvfIndex(
        spark, root + "/corpus", root + "/idx", k_cells=N_CLUSTERS, n_probe=2
    )
    idx.build()
    assert idx._get_meta("baseline_quality") is not None
    other = AtomicParquetTable(spark, root + "/idx/meta", keys=["key"])
    upsert = idx.meta.upsert

    def raced(df, order_by, **kw):
        other.upsert(
            spark.createDataFrame(
                [("baseline_quality", 0.125, 10**6)],
                "key string, val double, ts long",
            ),
            [F.col("ts").desc()],
        )
        return upsert(df, order_by, **kw)

    idx.meta.upsert = raced
    idx._put_meta({"applied_version": 42}, ts=10**6 + 1)
    assert idx._get_meta("baseline_quality") == 0.125
    assert idx._get_meta("applied_version") == 42.0
