"""Distributed Lloyd k-means (similarity.kmeans_train_distributed):
the full-corpus trainer whose per-iteration driver traffic is k×(d+1)
integers — and whose arithmetic is exactly replayable off-Spark
(kmeans_lloyd_replay), which is what the semdedup gate's 'km'/'kmc'
rows pin at driver level."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import similarity as sim


def _df(spark, mat: np.ndarray):
    rows = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_distributed_matches_pure_python_replay(spark):
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(60, 8)).astype(np.float32)
    df = _df(spark, mat)
    _cids, cm = sim.kmeans_train_distributed(df, k=5, iters=4)
    vecs = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    cm2, assign2 = sim.kmeans_lloyd_replay(vecs, k=5, iters=4)
    assert np.array_equal(cm, np.array(cm2))  # bit-identical centroids
    vec = F.col("embedding").cast("array<double>")
    got = {
        r.vec_id: r.cid
        for r in df.select(
            "vec_id", sim._kmeans_assign_col(vec, [list(c) for c in cm]).alias("cid")
        ).collect()
    }
    assert got == assign2


def test_empty_cluster_keeps_previous_centroid(spark):
    # first two init vectors are identical → ties assign to the FIRST
    # centroid, the second cluster goes empty and must keep its
    # (duplicate) centroid — deterministically, on both engines
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(20, 4)).astype(np.float32)
    mat[1] = mat[0]
    df = _df(spark, mat)
    _cids, cm = sim.kmeans_train_distributed(df, k=3, iters=3)
    vecs = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    cm2, _ = sim.kmeans_lloyd_replay(vecs, k=3, iters=3)
    assert np.array_equal(cm, np.array(cm2))


def test_recovers_separated_blobs(spark):
    rng = np.random.default_rng(3)
    blobs = []
    for c in range(3):
        center = np.zeros(6)
        center[c] = 50.0
        blobs.append(center + rng.normal(scale=0.5, size=(10, 6)))
    # interleave so the first-k init draws from distinct blobs
    mat = np.empty((30, 6))
    for i in range(10):
        for c in range(3):
            mat[i * 3 + c] = blobs[c][i]
    df = _df(spark, mat.astype(np.float32))
    _cids, cm = sim.kmeans_train_distributed(df, k=3, iters=5)
    vec = F.col("embedding").cast("array<double>")
    out = df.select(
        "vec_id", sim._kmeans_assign_col(vec, [list(c) for c in cm]).alias("cid")
    ).collect()
    # every member of a blob lands in the same cluster
    by_blob: dict[int, set[int]] = {}
    for r in out:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cid)
    assert all(len(cids) == 1 for cids in by_blob.values())
    assert len({next(iter(v)) for v in by_blob.values()}) == 3


def test_k_larger_than_corpus_raises(spark):
    df = _df(spark, np.zeros((2, 3), dtype=np.float32))
    with pytest.raises(ValueError, match="< k="):
        sim.kmeans_train_distributed(df, k=5)
    with pytest.raises(ValueError, match="< k="):
        sim.kmeans_lloyd_replay([(0, [0.0, 0.0, 0.0])], k=2)


def test_online_update_matches_replay_and_is_shard_order_exact(spark):
    """kmeans_update_distributed ≡ pure replay, and absorbing two
    shards one at a time yields the SAME integer state as absorbing
    them together (associative merge) — assignments always against the
    pre-update centroids."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=(30, 6)).astype(np.float32)
    df = _df(spark, base)
    state0 = sim.kmeans_state_from_training(df, k=3, iters=2)

    shard_a = rng.normal(size=(8, 6)).astype(np.float32)
    shard_b = rng.normal(size=(5, 6)).astype(np.float32)

    def sdf(mat, off):
        rows = [(off + i, [float(x) for x in mat[i]]) for i in range(len(mat))]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    a1, st1 = sim.kmeans_update_distributed(sdf(shard_a, 100), state0)
    a2, st2 = sim.kmeans_update_distributed(sdf(shard_b, 200), st1)

    vecs_a = [(100 + i, [float(x) for x in shard_a[i]]) for i in range(len(shard_a))]
    vecs_b = [(200 + i, [float(x) for x in shard_b[i]]) for i in range(len(shard_b))]
    ra, rst1 = sim.kmeans_update_replay(vecs_a, state0)
    rb, rst2 = sim.kmeans_update_replay(vecs_b, rst1)

    assert {r.vec_id: r.cid for r in a1.collect()} == ra
    assert {r.vec_id: r.cid for r in a2.collect()} == rb
    assert st2 == rst2  # exact: centroids, counts, integer cells

    # sequential(two shards) state ≡ replay applied to the union in
    # one go IF the intermediate centroid drift is replayed — i.e. the
    # state is a pure function of (state0, shard sequence); re-running
    # the same sequence is bit-identical
    a1x, st1x = sim.kmeans_update_distributed(sdf(shard_a, 100), state0)
    assert st1x == st1


def test_state_df_roundtrip(spark):
    rng = np.random.default_rng(5)
    df = _df(spark, rng.normal(size=(12, 4)).astype(np.float32))
    state = sim.kmeans_state_from_training(df, k=2, iters=2)
    back = sim.kmeans_state_from_df(sim.kmeans_state_df(spark, state))
    assert back == state


def test_update_empty_cluster_keeps_centroid(spark):
    # a shard far from centroid 1's region leaves its cells untouched
    base = np.zeros((6, 3), dtype=np.float32)
    base[3:] += 10.0
    df = _df(spark, base)
    state = sim.kmeans_state_from_training(df, k=2, iters=2)
    shard = spark.createDataFrame(
        [(50, [0.1, 0.1, 0.1])], "vec_id long, embedding array<float>"
    )
    _a, st = sim.kmeans_update_distributed(shard, state)
    # the far cluster's count did not change; its centroid is identical
    changed = [c for c in range(2) if st[1][c] != state[1][c]]
    assert len(changed) == 1
    untouched = 1 - changed[0]
    assert st[0][untouched] == state[0][untouched]


def _shard_df(spark, mat, off):
    rows = [(off + i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_state_sink_stream_and_replay(spark, tmp_path):
    """Two micro-batches through make_kmeans_state_sink: batch 1
    absorbs into batch 0's snapshot; a replay of batch 1 (same
    batch_id) recomputes from snapshot 0 — NO double-count; the final
    state equals the pure-Python replay of the same shard sequence."""
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    rng = np.random.default_rng(31)
    b0 = rng.normal(size=(24, 5)).astype(np.float32)
    b1 = rng.normal(size=(9, 5)).astype(np.float32)
    state_path = str(tmp_path / "state")
    assigns = str(tmp_path / "assigns")
    sink = pipeline.make_kmeans_state_sink(state_path, assigns, k=3)

    sink(_shard_df(spark, b0, 0), 0)
    sink(_shard_df(spark, b1, 100), 1)
    sink(_shard_df(spark, b1, 100), 1)  # crash-replay: same batch_id

    latest = (
        spark.read.option("basePath", state_path).parquet(state_path)
        .filter("batch_id = 1").drop("batch_id")
    )
    got = sim.kmeans_state_from_df(latest)

    # replay in pure python: train state on b0, then absorb b1 once
    df0 = _shard_df(spark, b0, 0)
    st0 = sim.kmeans_state_from_training(df0, k=3, iters=2)
    vecs1 = [(100 + i, [float(x) for x in b1[i]]) for i in range(len(b1))]
    _a, want = sim.kmeans_update_replay(vecs1, st0)
    assert got == want  # exact — replay did not double-count

    # assignments for batch 1 exist and reference pre-update centroids
    a1 = spark.read.parquet(f"{assigns}/batch_id=1").collect()
    assert {r.vec_id for r in a1} == set(range(100, 109))
    # total points tracked = 24 + 9, not 24 + 18
    assert sum(got[1]) == 33


def test_kmeans_state_sink_cold_start_requires_k(spark, tmp_path):
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    sink = pipeline.make_kmeans_state_sink(str(tmp_path / "state"))
    df = _shard_df(spark, np.zeros((4, 3), dtype=np.float32), 0)
    with pytest.raises(ValueError, match="cold-start"):
        sink(df, 0)


def test_trained_centroids_plug_into_semantic_dedup(spark):
    """The distributed trainer's (cids, matrix) tuple is drop-in
    compatible with the SemDeDup pipeline (same contract as
    train_ivf_codebook), including the quality survivor policy."""
    rng = np.random.default_rng(41)
    base = rng.normal(size=(20, 6)).astype(np.float32)
    base[10:] = base[:10] + rng.normal(scale=1e-3, size=(10, 6)).astype(np.float32)
    rows = [
        (i, [float(x) for x in base[i]], int(i >= 10)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, newer int")
    cents = sim.kmeans_train_distributed(df, k=2, iters=3)
    out = sim.semantic_dedup(df, cents, threshold=0.999, score_col="newer")
    res = {r.vec_id: r for r in out.collect()}
    canon = {v for v, r in res.items() if r.is_canonical}
    # each twin pair keeps exactly one survivor, and the quality
    # policy prefers the 'newer' (higher score) copy
    assert len(canon) == 10
    assert all(v >= 10 for v in canon)


def test_cluster_exemplars_rank_by_centroid_cosine(spark):
    """The member most aligned with its centroid ranks 1; ranks follow
    round-6 cosine with id tiebreak; k caps per-cluster output."""
    from cdc_pipeline_with_kafka_spark.operators import similarity

    assigned = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),     # exactly on centroid 0
            (1, [1.0, 0.2], 0),     # slightly off
            (2, [1.0, 0.5], 0),     # further off
            (3, [0.0, 2.0], 1),     # on centroid 1 (scale-invariant)
            (4, [0.1, 1.0], 1),
        ],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    cents = ([0, 1], [[1.0, 0.0], [0.0, 1.0]])
    rows = similarity.cluster_exemplars(assigned, cents, k=2).collect()
    got = {(r["centroid_id"], r["rnk"]): r["id"] for r in rows}
    assert got == {(0, 1): 0, (0, 2): 1, (1, 1): 3, (1, 2): 4}
    sims = {r["id"]: r["centroid_sim"] for r in rows}
    assert sims[0] == 1.0 and sims[3] == 1.0  # on-centroid, any norm
    assert 2 not in sims  # k=2 cap dropped the furthest member


_CODEGEN, _ARROW = 1 << 62, 0  # KMEANS_ARROW_LITERALS forcing each path


def test_arrow_stats_bit_parity_with_codegen(spark, monkeypatch):
    """The Arrow assignment path replays the codegen fold's exact IEEE
    sequence — identical (cid, cnt, q*) cells, including exact-tie
    vectors that must first-min to the lower cid on BOTH paths."""
    rng = np.random.default_rng(19)
    mat = rng.normal(size=(80, 8)).astype(np.float32)
    mat[1] = mat[0]    # duplicate init vectors → exact distance ties
    mat[33] = mat[0]   # a non-init duplicate, ties mid-corpus
    df = _df(spark, mat)
    cm = [[float(x) for x in mat[i]] for i in range(5)]
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _CODEGEN)
    a = sorted(map(tuple, sim._kmeans_iter_stats(df, cm, "embedding").collect()))
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _ARROW)
    b = sorted(map(tuple, sim._kmeans_iter_stats(df, cm, "embedding").collect()))
    assert a == b and len(a) >= 3


def test_arrow_trainer_equals_codegen_trainer_and_replay(spark, monkeypatch):
    """Full training runs bit-identically on either assignment path,
    and the pure-Python oracle replay still matches — the 'km' gate
    rows hold regardless of dispatch."""
    rng = np.random.default_rng(23)
    mat = rng.normal(size=(60, 8)).astype(np.float32)
    df = _df(spark, mat)
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _CODEGEN)
    _c1, cm1 = sim.kmeans_train_distributed(df, k=5, iters=3)
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _ARROW)
    _c2, cm2 = sim.kmeans_train_distributed(df, k=5, iters=3)
    assert np.array_equal(cm1, cm2)
    vecs = [(i, [float(x) for x in mat[i]]) for i in range(len(mat))]
    cm3, _ = sim.kmeans_lloyd_replay(vecs, k=5, iters=3)
    assert np.array_equal(cm2, np.array(cm3))


def test_arrow_assign_blocking_first_min_across_blocks():
    """Centroid blocking must keep the EARLIEST global minimum: a
    centroid duplicated in a later block may not steal the tie."""
    X = np.array([[1.0, 2.0], [3.0, -1.0], [0.0, 0.0]])
    C = np.array([[1.0, 2.0], [9.0, 9.0], [5.0, 5.0], [1.0, 2.0],
                  [0.0, 0.0]])
    got = sim._kmeans_assign_np(X, C, block=2)
    # row 0 ties centroids 0 and 3 (different blocks) → 0 wins;
    # row 1's true minimum (centroid 4) sits in the last block;
    # row 2 is exactly centroid 4 in the last block
    assert got.tolist() == [0, 4, 4]


def test_kmeans_assign_df_paths_agree(spark, monkeypatch):
    rng = np.random.default_rng(29)
    mat = rng.normal(size=(40, 6)).astype(np.float32)
    df = _df(spark, mat)
    cm = [[float(x) for x in mat[i]] for i in range(4)]
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _CODEGEN)
    a = sorted((r.vec_id, r.cid) for r in sim.kmeans_assign_df(df, cm).collect())
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", _ARROW)
    b = sorted((r.vec_id, r.cid) for r in sim.kmeans_assign_df(df, cm).collect())
    assert a == b


def test_kmeans_auto_dispatch_threshold(spark, monkeypatch):
    """Codegen at small k·d (the oracle-replayable plan the gate pins:
    no Python eval) and arrow above KMEANS_ARROW_LITERALS (no centroid
    literals in the plan) — for every stats pass, including the
    seeding pass of kmeans_state_from_training."""
    emb_small = _df(spark, np.random.default_rng(5).normal(size=(8, 4)))
    cm_small = [[float(v) for v in r.embedding]
                for r in emb_small.orderBy("vec_id").limit(2).collect()]
    small = sim._kmeans_iter_stats(emb_small, cm_small, "embedding")
    p = small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p and "MapInPandas" not in p
    # force the arrow side: k·d > threshold via a wide synthetic dim
    big_k = sim.KMEANS_ARROW_LITERALS // 4 + 1
    cm_big = [[float(i), 0.0, 0.0, 0.0] for i in range(big_k)]
    big = sim._kmeans_iter_stats(emb_small, cm_big, "embedding")
    pb = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in pb
    # above the threshold, training AND the seeding stats pass both
    # take the arrow path: iters=2 training passes + 1 seeding pass
    arrow_passes = []
    real = sim._kmeans_iter_stats_arrow

    def spy(corpus, cm, vec_col):
        arrow_passes.append(len(cm))
        return real(corpus, cm, vec_col)

    monkeypatch.setattr(sim, "_kmeans_iter_stats_arrow", spy)
    monkeypatch.setattr(sim, "KMEANS_ARROW_LITERALS", 2 * 4 - 1)
    sim.kmeans_state_from_training(emb_small, k=2, iters=2)
    assert arrow_passes == [2, 2, 2]
