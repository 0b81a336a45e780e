"""Integer-exact PageRank (operators/graph.py): bit-identical
distributed vs pure-Python replay, rank semantics, and the
authority-prior join."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import graph as G


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_distributed_matches_replay_bit_exact(spark):
    rng = np.random.default_rng(17)
    edges = list({(int(a), int(b)) for a, b in rng.integers(0, 30, (120, 2))})
    got = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(_edges_df(spark, edges), iters=8).collect()
    }
    want = G.pagerank_replay(edges, iters=8)
    assert got == want  # exact long equality, every node


def test_authority_node_ranks_highest(spark):
    # star: everyone links to node 0; 0 links back to 1.  The 0↔1
    # 2-cycle oscillates with iteration parity, so assert the TOP-TWO
    # SET, not their order: {0, 1} hold all the circulating mass while
    # the source-only nodes sit at the 150_000 base floor.
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    score = G.pagerank_replay(edges, iters=10)
    top2 = sorted(score, key=score.get, reverse=True)[:2]
    assert set(top2) == {0, 1}
    assert all(score[n] == 150_000 for n in (2, 3, 4, 5))
    assert min(score[0], score[1]) > 1_000_000


def test_dangling_and_zero_iters(spark):
    edges = [(1, 2)]  # node 2 dangles
    zero = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(_edges_df(spark, edges), iters=0).collect()
    }
    assert zero == {1: 1_000_000, 2: 1_000_000}
    one = G.pagerank_replay(edges, iters=1)
    # node 1 has no in-edges: base only; node 2 receives 1's full mass
    assert one[1] == 150_000
    assert one[2] == 150_000 + (850_000 * 1_000_000) // 1_000_000


def test_integer_division_remainder_dropped(spark):
    # node 0 with out-degree 3 and score 1_000_000: each edge carries
    # floor(1_000_000/3) = 333_333; the 1-micro remainder leaks
    edges = [(0, 1), (0, 2), (0, 3)]
    one = G.pagerank_replay(edges, iters=1)
    expected = 150_000 + (850_000 * 333_333) // 1_000_000
    assert one[1] == one[2] == one[3] == expected
    got = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(_edges_df(spark, edges), iters=1).collect()
    }
    assert got == one


def test_authority_weights_broadcast_prior(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "doc_id long, host long"
    )
    ranks = spark.createDataFrame(
        [(10, 500_000), (20, 900_000)], "node long, score_micro long"
    )
    out = {
        r["doc_id"]: r["authority_micro"]
        for r in G.authority_weights(docs, ranks, "host").collect()
    }
    assert out == {1: 500_000, 2: 900_000, 3: 150_000}  # missing -> floor
    from cdc_pipeline_with_kafka_spark import plans

    assert plans.has_broadcast_join(G.authority_weights(docs, ranks, "host"))


def test_weighted_pagerank_bit_exact_and_proportional(spark):
    """Weighted edges: mass splits proportionally by integer weight;
    distributed == replay bit-for-bit; duplicate (src,dst) rows sum."""
    edges = [(0, 1, 3), (0, 2, 1), (0, 1, 1), (3, 0, 2)]  # (0,1) w=4 total
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=3, weight_col="w").collect()
    }
    want = G.pagerank_replay(edges, iters=3)
    assert got == want
    # after one iter node 1 gets 4/5 of 0's mass, node 2 gets 1/5
    one = G.pagerank_replay(edges, iters=1)
    assert one[1] - 150_000 == (850_000 * ((1_000_000 * 4) // 5)) // 1_000_000
    assert one[2] - 150_000 == (850_000 * ((1_000_000 * 1) // 5)) // 1_000_000


def test_pagerank_rejects_nonpositive_weights_both_paths(spark):
    """The positive-weight contract is enforced LOUDLY on both the
    Spark path and the replay — never the silent NULL-div drop that
    made engine and pinned oracle diverge on the same input."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    bad = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 0)], "src long, dst long, w long"
    )
    with pytest.raises((Py4JJavaError, PySparkException, Exception),
                       match="positive"):
        G.pagerank(bad, iters=1, weight_col="w").collect()
    with pytest.raises(ValueError, match="positive"):
        G.pagerank_replay([(0, 1, 3), (1, 2, 0)], iters=1)
    with pytest.raises(ValueError, match="positive"):
        G.pagerank_replay([(0, 1, 3), (1, 2, None)], iters=1)
    # NULL weight on the Spark side raises too (not dropped)
    nullw = spark.createDataFrame(
        [(0, 1, 3), (1, 2, None)], "src long, dst long, w long"
    )
    with pytest.raises((Py4JJavaError, PySparkException, Exception),
                       match="positive"):
        G.pagerank(nullw, iters=1, weight_col="w").collect()


def test_pagerank_tol_early_stop_equals_fixed_iters(spark):
    """tol_micro=0 stops at the integer fixed point; the result is
    bit-identical to ANY larger fixed iteration count (further
    iterations replay the fixed point), and the stop actually fires
    well before the fixed budget on a fast-converging graph."""
    # a DAG funnel converges in a few iterations: once the leading
    # mass has flowed through the longest path, scores freeze exactly
    edges = [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (0, 6)]
    df = _edges_df(spark, edges)
    fixed = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=50).collect()
    }
    stopped = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=50, tol_micro=0, check_every=4).collect()
    }
    assert stopped == fixed
    # r13 check_every: the chunked convergence barrier is bit-identical
    # for any k at tol_micro=0 (overshoot replays the fixed point) —
    # including a k that never divides the stop iteration evenly
    every1 = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=50, tol_micro=0).collect()
    }
    every7 = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=50, tol_micro=0, check_every=7).collect()
    }
    assert every1 == every7 == fixed
    import pytest as _pt

    with _pt.raises(ValueError, match="check_every"):
        G.pagerank(df, iters=1, check_every=0)
    # replay confirms convergence by iteration 5 (the DAG depth) —
    # so the early stop saved ≥40 full edge shuffles
    assert G.pagerank_replay(edges, iters=5) == G.pagerank_replay(
        edges, iters=50
    )


def test_personalized_pagerank_teleports_to_seeds(spark):
    """Personalized: only seed nodes receive the base (teleport) mass,
    so authority concentrates near the seed set; distributed == replay."""
    import numpy as np

    rng = np.random.default_rng(7)
    edges = list({(int(a), int(b)) for a, b in rng.integers(0, 20, (60, 2))})
    seeds = {0, 1}
    df = _edges_df(spark, edges)
    seed_df = spark.createDataFrame([(0,), (1,)], "node long")
    got = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(df, iters=6, seeds=seed_df).collect()
    }
    want = G.pagerank_replay(edges, iters=6, seeds=seeds)
    assert got == want
    # a node with no path from the seeds decays geometrically (0.85^t)
    # toward 0 — exactly 0 once the integer floor eats the residue
    island = [(100, 101), (101, 100)] + edges
    w2 = G.pagerank_replay(island, iters=100, seeds=seeds)
    assert w2[100] == 0 and w2[101] == 0
    mid = G.pagerank_replay(island, iters=40, seeds=seeds)
    assert 0 < mid[100] < 2_000  # ~1e6·0.85⁴⁰, mid-decay


def test_connected_components_incremental_equals_full(spark):
    """The component tier's incremental member: admitting a shard of
    pairs against persisted labels equals the full recompute over
    old ∪ new pairs EXACTLY, at boundary shard splits {0, 1, n/2,
    n-1, n} — including shard pairs that merge two old clusters,
    bridge through brand-new nodes, or fall inside one old cluster."""
    import numpy as np

    from cdc_pipeline_with_kafka_spark.operators import dedup

    rng = np.random.default_rng(13)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 40, (50, 2)) if a != b})
    # force the interesting shard shapes: a bridge via a new node and
    # an intra-cluster duplicate pair land in the tail (the shard side)
    pairs = pairs + [(100, pairs[0][0]), (100, pairs[-1][1]), pairs[2]]
    n = len(pairs)

    def comp_of(pair_list):
        if not pair_list:
            return {}
        df = spark.createDataFrame(pair_list, "id_a long, id_b long")
        return {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(df).collect()
        }

    full = comp_of(pairs)
    for cut in (0, 1, n // 2, n - 1, n):
        old, shard = pairs[:cut], pairs[cut:]
        labels = spark.createDataFrame(
            list(comp_of(old).items()) or [(None, None)],
            "id long, cluster_id long",
        ).filter(F.col("id").isNotNull())
        shard_df = spark.createDataFrame(
            shard or [(None, None)], "id_a long, id_b long"
        ).filter(F.col("id_a").isNotNull())
        inc = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components_incremental(
                shard_df, labels
            ).collect()
        }
        assert inc == full, cut


def test_components_sink_delta_mode_bounded_writes(spark, tmp_path):
    """Delta mode: the LWW merge of the batch dirs equals the full
    recompute (incl. cluster merges and crash replay), and batch N's
    dir holds only the labels the batch TOUCHED — O(batch), not
    O(nodes-seen): a batch adding one isolated pair to a 60-node table
    writes exactly its two rows."""
    import numpy as np

    from cdc_pipeline_with_kafka_spark.operators import dedup
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    rng = np.random.default_rng(47)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 60, (80, 2)) if a != b})
    thirds = [pairs[0::3], pairs[1::3], pairs[2::3]]
    path = str(tmp_path / "labels")
    sink = pipeline.make_components_sink(path)
    for i, chunk in enumerate(thirds):
        sink(spark.createDataFrame(chunk, "id_a long, id_b long"), i)

    def merged():
        df = pipeline.read_component_labels(spark, path)
        return {r["id"]: r["cluster_id"] for r in df.collect()}

    full = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components(
            spark.createDataFrame(pairs, "id_a long, id_b long")
        ).collect()
    }
    assert merged() == full
    # crash replay of the final batch: reconstructed from dirs < 2,
    # overwritten in place, merge unchanged
    sink(spark.createDataFrame(thirds[2], "id_a long, id_b long"), 2)
    assert merged() == full
    # size assertion: a batch touching ONE fresh pair writes exactly 2
    # rows, however many nodes the table already holds
    sink(spark.createDataFrame([(1000, 1001)], "id_a long, id_b long"), 3)
    b3 = spark.read.parquet(f"{path}/batch_id=3")
    assert b3.count() == 2
    assert merged() == {**full, 1000: 1000, 1001: 1000}
    # and a batch that BRIDGES two existing clusters writes only the
    # relabeled cluster's rows + nothing else
    before = merged()
    a_lbl, b_lbl = before[1000], before[pairs[0][0]]
    sink(spark.createDataFrame([(1000, pairs[0][0])], "id_a long, id_b long"), 4)
    b4 = {r["id"]: r["cluster_id"] for r in spark.read.parquet(f"{path}/batch_id=4").collect()}
    loser = max(a_lbl, b_lbl)
    relabeled = {n for n, l in before.items() if l == loser}
    assert set(b4) == relabeled
    assert merged() == {
        n: (min(a_lbl, b_lbl) if l == loser else l) for n, l in before.items()
    }


def test_components_sink_continues_full_snapshot_store(spark, tmp_path):
    """A store of full per-batch label snapshots (the layout the sink
    once wrote) needs no migration: the last-writer-wins view returns
    each node's newest snapshot row, and the next delta batch extends
    it to the labels of all pairs."""
    from cdc_pipeline_with_kafka_spark.streaming import pipeline, store

    path = str(tmp_path / "labels")
    # snapshots after pairs (1,2),(3,4) and then (2,3),(5,6)
    snapshots = [
        [(1, 1), (2, 1), (3, 3), (4, 3)],
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)],
    ]
    for b, rows in enumerate(snapshots):
        store.write(spark.createDataFrame(rows, "id long, cluster_id long"), path, b)
    sink = pipeline.make_components_sink(path)
    sink(spark.createDataFrame([(6, 7), (8, 9)], "id_a long, id_b long"), 2)
    got = {r["id"]: r["cluster_id"] for r in pipeline.read_component_labels(spark, path).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8}


def test_components_delta_equals_incremental_under_lww(spark):
    """connected_components_delta applied over the prior table with
    last-writer-wins reproduces connected_components_incremental
    exactly — the operator-level equivalence the sink relies on."""
    import numpy as np

    from cdc_pipeline_with_kafka_spark.operators import dedup

    rng = np.random.default_rng(53)
    pairs = sorted({(int(a), int(b)) for a, b in rng.integers(0, 40, (60, 2)) if a != b})
    old, shard = pairs[: len(pairs) // 2], pairs[len(pairs) // 2:]
    labels = dedup.connected_components(
        spark.createDataFrame(old, "id_a long, id_b long")
    ).localCheckpoint()
    shard_df = spark.createDataFrame(shard, "id_a long, id_b long")
    inc = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components_incremental(shard_df, labels).collect()
    }
    base = {r["id"]: r["cluster_id"] for r in labels.collect()}
    delta = {
        r["id"]: r["cluster_id"]
        for r in dedup.connected_components_delta(shard_df, labels).collect()
    }
    assert {**base, **delta} == inc
    # delta rows are only changes: nothing in the delta repeats an
    # unchanged prior label
    assert all(base.get(n) != l for n, l in delta.items())


def test_compact_component_labels_bounds_history(spark, tmp_path):
    """Compaction collapses dirs ≤ upto into one LWW dir, deletes the
    older ones, and the merged view is unchanged."""
    import os

    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    path = str(tmp_path / "labels")
    sink = pipeline.make_components_sink(path)
    sink(spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long"), 0)
    sink(spark.createDataFrame([(2, 3)], "id_a long, id_b long"), 1)
    sink(spark.createDataFrame([(10, 11)], "id_a long, id_b long"), 2)
    before = {
        r["id"]: r["cluster_id"]
        for r in pipeline.read_component_labels(spark, path).collect()
    }
    n = pipeline.compact_component_labels(spark, path, upto_batch=1)
    assert n == 4  # nodes 1-4 in one merged dir
    dirs = sorted(d for d in os.listdir(path) if d.startswith("batch_id="))
    assert dirs == ["batch_id=1", "batch_id=2"]
    after = {
        r["id"]: r["cluster_id"]
        for r in pipeline.read_component_labels(spark, path).collect()
    }
    assert after == before == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_triangle_census_k4_pendant_and_messy_input(spark):
    """K4 + pendant: every K4 node sits on 3 of the 4 triangles with
    lcc exactly 1.0 (ppm 1e6); the bridge node's lcc accounts for the
    open wedges to the pendant; duplicate, reversed, and self-loop
    edges collapse into the simple graph first."""
    from cdc_pipeline_with_kafka_spark.operators import graph

    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    messy = k4 + [(2, 1), (3, 1), (1, 1)] + [(4, 5)] + [(5, 4)]
    edges = spark.createDataFrame(messy, "src long, dst long")
    out = {r["node"]: r for r in graph.triangle_census(edges).collect()}

    assert set(out) == {1, 2, 3, 4, 5}
    for n in (1, 2, 3):
        assert (out[n]["deg"], out[n]["n_tri"], out[n]["lcc_ppm"]) == (3, 3, 1_000_000)
    # node 4 also touches the pendant: deg 4, still 3 triangles,
    # lcc = 2*3/(4*3) = 0.5
    assert (out[4]["deg"], out[4]["n_tri"], out[4]["lcc_ppm"]) == (4, 3, 500_000)
    assert (out[5]["deg"], out[5]["n_tri"], out[5]["lcc_ppm"]) == (1, 0, 0)
    # global count: sum(n_tri) = 3 * number of triangles
    assert sum(r["n_tri"] for r in out.values()) == 3 * 4


def test_triangle_census_triangle_free_and_empty(spark):
    from cdc_pipeline_with_kafka_spark.operators import graph

    # bipartite (star) graph: plenty of wedges, zero triangles
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    rows = graph.triangle_census(star).collect()
    assert all(r["n_tri"] == 0 and r["lcc_ppm"] == 0 for r in rows)
    assert {r["node"]: r["deg"] for r in rows}[0] == 5

    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.triangle_census(empty).count() == 0


def test_components_sink_self_compaction_bounds_history(spark, tmp_path, monkeypatch):
    """The sink enforces the SCALING cadence itself — on a long stream
    the number of batch dirs stays bounded WITHOUT caller
    intervention, the marker update is replay-safe, and the final
    merged view still equals a one-shot connected-components run over
    all pairs."""
    import os

    from cdc_pipeline_with_kafka_spark.operators import dedup as D
    from cdc_pipeline_with_kafka_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "COMPONENTS_COMPACT_MIN_ROWS", 8)
    path = str(tmp_path / "labels")
    sink = P.make_components_sink(path)
    all_pairs = []
    max_dirs = 0
    for b in range(24):
        # fresh 2-node component per batch, plus a periodic merge edge
        pairs = [(1000 + 2 * b, 1001 + 2 * b)]
        if b % 5 == 4:
            pairs.append((1000, 1000 + 2 * b))
        all_pairs.extend(pairs)
        sink(spark.createDataFrame(pairs, "id_a long, id_b long"), b)
        ndirs = sum(
            1 for d in os.listdir(path) if d.startswith("batch_id=")
        )
        max_dirs = max(max_dirs, ndirs)
    # 24 batches: without compaction there would be 24 dirs.  The
    # cadence bounds dirs by ~(label-table size / per-batch delta),
    # which grows with the TABLE, not the stream length — here the
    # table ends at ~50 rows with ~2-row deltas, so low teens
    assert max_dirs <= 14, f"history unbounded: {max_dirs} dirs"
    # replaying the newest batch must not double-count or corrupt
    sink(spark.createDataFrame(pairs, "id_a long, id_b long"), 23)
    got = {
        (r["id"], r["cluster_id"])
        for r in P.read_component_labels(spark, path).collect()
    }
    want = {
        (r["id"], r["cluster_id"])
        for r in D.connected_components(
            spark.createDataFrame(all_pairs, "id_a long, id_b long"),
            "id_a", "id_b",
        ).collect()
    }
    assert got == want


def test_components_sink_compacts_file_uri_store(spark, tmp_path, monkeypatch):
    """A ``file://`` labels path: the sink's compaction marker and its
    compactions resolve the URI to the local dir, so batches that
    compact succeed, and the merged view equals one
    connected-components run over all pairs."""
    import os

    from cdc_pipeline_with_kafka_spark.operators import dedup as D
    from cdc_pipeline_with_kafka_spark.streaming import pipeline as P

    monkeypatch.setattr(P, "COMPONENTS_COMPACT_MIN_ROWS", 2)
    path = tmp_path / "labels"
    sink = P.make_components_sink(path.as_uri())
    batches = [[(1, 2)], [(3, 4)], [(2, 3), (5, 6)], [(6, 7)]]
    for b, pairs in enumerate(batches):
        sink(spark.createDataFrame(pairs, "id_a long, id_b long"), b)
    # compactions ran: fewer dirs than batches
    assert len([d for d in os.listdir(path) if d.startswith("batch_id=")]) < len(batches)
    got = {
        (r["id"], r["cluster_id"])
        for r in P.read_component_labels(spark, path.as_uri()).collect()
    }
    want = {
        (r["id"], r["cluster_id"])
        for r in D.connected_components(
            spark.createDataFrame([p for b in batches for p in b], "id_a long, id_b long"),
            "id_a", "id_b",
        ).collect()
    }
    assert got == want


def test_bfs_levels_min_hop_semantics(spark):
    """Multi-source BFS: level = MINIMUM hop count (a node reachable
    via 1 and 3 hops reports 1), sources at level 0, unreachable
    nodes absent, directed vs undirected edge interpretation, and
    the max_hops guard raises instead of silently truncating."""
    import pytest as _pytest

    edges = spark.createDataFrame(
        [
            (0, 1), (1, 2), (2, 3),       # chain 0-1-2-3
            (0, 4), (4, 3),               # shortcut: 3 is 2 hops via 4
            (5, 6),                       # separate component
            (7, 0),                       # only INTO 0 (directed case)
        ],
        "src long, dst long",
    )
    srcs = spark.createDataFrame([(0,)], "node long")
    und = {r["node"]: r["level"] for r in G.bfs_levels(edges, srcs).collect()}
    assert und == {0: 0, 1: 1, 4: 1, 7: 1, 2: 2, 3: 2}  # 5,6 absent
    d = {
        r["node"]: r["level"]
        for r in G.bfs_levels(edges, srcs, directed=True).collect()
    }
    assert d == {0: 0, 1: 1, 4: 1, 2: 2, 3: 2}  # 7 only points IN
    # multi-source: min over seeds
    two = spark.createDataFrame([(0,), (3,)], "node long")
    m = {r["node"]: r["level"] for r in G.bfs_levels(edges, two).collect()}
    assert m[2] == 1 and m[3] == 0
    with _pytest.raises(ValueError, match="max_hops"):
        G.bfs_levels(edges, srcs, max_hops=1)
    # eccentricity EXACTLY max_hops completes: the level-2 frontier
    # (2,3) has no unvisited neighbors, so max_hops=2 must NOT raise
    # (callers must not need to over-provision by 1)
    exact = {
        r["node"]: r["level"]
        for r in G.bfs_levels(edges, srcs, max_hops=2).collect()
    }
    assert exact == und


def test_sssp_hand_graph_and_multisource(spark):
    from cdc_pipeline_with_kafka_spark.operators import graph as G
    # 1→2 (5), 1→3 (2), 3→2 (2): shortest 1→2 is 4 via 3
    e = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 2.0), (3, 2, 2.0), (4, 5, 1.0)],
        "src long, dst long, w double")
    srcs = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["dist_micro"] for r in
           G.sssp(e, srcs, directed=True).collect()}
    assert out == {1: 0, 3: 2_000_000, 2: 4_000_000}
    # multi-source: node 4 joins, 5 becomes reachable
    srcs2 = spark.createDataFrame([(1,), (4,)], "node long")
    out2 = {r["node"]: r["dist_micro"] for r in
            G.sssp(e, srcs2, directed=True).collect()}
    assert out2[5] == 1_000_000 and out2[2] == 4_000_000


def test_sssp_undirected_and_replay_agree(spark):
    import random
    from cdc_pipeline_with_kafka_spark.operators import graph as G
    rng = random.Random(11)
    edges = [(rng.randint(0, 15), rng.randint(0, 15),
              float(rng.randint(1, 9))) for _ in range(40)]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    e = spark.createDataFrame(edges, "src long, dst long, w double")
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["dist_micro"] for r in G.sssp(e, srcs).collect()}
    want = G.sssp_replay(edges, [0])
    assert got == want


def test_sssp_positive_weight_contract_and_max_iter(spark):
    import pytest as _pt
    from cdc_pipeline_with_kafka_spark.operators import graph as G
    bad = spark.createDataFrame([(1, 2, 0.0)], "src long, dst long, w double")
    srcs = spark.createDataFrame([(1,)], "node long")
    with _pt.raises(Exception, match="strictly positive"):
        G.sssp(bad, srcs).collect()
    chain = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)], "src long, dst long, w double")
    with _pt.raises(ValueError, match="max_iter"):
        G.sssp(chain, spark.createDataFrame([(0,)], "node long"),
               directed=True, max_iter=3)


def test_coreness_hindex_max_rounds_guard(spark):
    """Planted violation: K4 + pendant needs two h-index rounds (the
    hub's degree 4 drops to 3, then the fixpoint check), so
    max_rounds=1 must raise rather than return the half-converged
    vector, and max_rounds=2 is exact.  (A clique would not do: its
    degree vector is already the fixpoint.)"""
    import pytest as _pt

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(k4 + [(0, 9)], "src long, dst long")
    with _pt.raises(ValueError, match="max_rounds=1"):
        G.coreness_hindex(e, max_rounds=1)
    out = {
        r["node"]: r["coreness"]
        for r in G.coreness_hindex(e, max_rounds=2).collect()
    }
    assert out == {0: 3, 1: 3, 2: 3, 3: 3, 9: 1}


def test_label_propagation_matches_pure_python_replay(spark):
    """Deterministic synchronous LPA: every node's label after 1/3/5
    fixed rounds equals the pure-Python round replay; planted cliques
    cohere to one label; guards."""
    import random

    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators.graph import (
        label_propagation,
        label_propagation_replay,
    )

    rng = random.Random(4)
    edges = []
    for c, base in ((6, 0), (5, 10)):
        for i in range(c):
            for j in range(i + 1, c):
                edges.append((base + i, base + j))
    edges.append((0, 10))
    for _ in range(15):
        edges.append((rng.randint(20, 35), rng.randint(20, 35)))
    df = spark.createDataFrame(edges, "src int, dst int")
    for rounds in (1, 3, 5):
        got = {
            r.node: r.label
            for r in label_propagation(df, n_rounds=rounds).collect()
        }
        assert got == label_propagation_replay(edges, rounds), rounds
    got5 = {
        r.node: r.label for r in label_propagation(df, n_rounds=5).collect()
    }
    assert len({got5[i] for i in range(6)}) == 1
    assert len({got5[10 + i] for i in range(5)}) == 1
    with _pt.raises(ValueError, match="n_rounds"):
        label_propagation(df, n_rounds=0)

def test_coreness_hindex_equals_replay(spark):
    """The h-index fixpoint returns EXACTLY the matula-beck peel's
    coreness (pure-Python replay — the same oracle the 'core' gate
    pins coreness_hindex against) on a K4 with a pendant and on a
    randomized graph with a planted dense clique riding over a sparse
    background."""
    import random

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    k4_pendant = k4 + [(0, 9)]
    assert G.coreness_replay(k4_pendant) == {0: 3, 1: 3, 2: 3, 3: 3, 9: 1}
    rng = random.Random(11)
    edges = {(rng.randrange(60), rng.randrange(60)) for _ in range(150)}
    edges |= {(i, j) for i in range(50, 56) for j in range(50, 56) if i < j}
    edges = [(a, b) for a, b in edges if a != b]
    for case in (k4_pendant, edges):
        df = spark.createDataFrame(case, "src long, dst long")
        hind = {
            r["node"]: r["coreness"]
            for r in G.coreness_hindex(df).collect()
        }
        assert hind == G.coreness_replay(case)


def test_coreness_hindex_incremental_equals_full(spark):
    """ΔK-core maintenance: seeding from the persisted labels of the
    previous edge set + the insertion-count bound converges to the
    EXACT coreness of the new graph — for an insert batch (including
    brand-new nodes and a densified clique), for pure deletions, and
    at the boundary shards (empty prior table)."""
    import random

    import pytest as _pt

    rng = random.Random(7)
    base = list({(rng.randrange(40), rng.randrange(40)) for _ in range(90)})
    base = [(a, b) for a, b in base if a != b]
    # delta: densify a clique among 36..41 (raises coreness) + attach
    # brand-new nodes 100/101
    delta = [(i, j) for i in range(36, 42) for j in range(36, 42) if i < j]
    delta += [(100, 36), (100, 101)]
    delta = [p for p in delta if p not in set(base)]
    bdf = spark.createDataFrame(base, "src long, dst long")
    fdf = spark.createDataFrame(base + delta, "src long, dst long")

    def labels_df(edge_list):
        return spark.createDataFrame(
            list(G.coreness_replay(edge_list).items()),
            "node long, coreness int",
        )

    full = G.coreness_replay(base + delta)
    inc = {
        r["node"]: r["coreness"]
        for r in G.coreness_hindex(
            fdf, prior=labels_df(base), inserted_edges=len(delta)
        ).collect()
    }
    assert inc == full
    # pure deletions: prior labels upper-bound the shrunken graph
    dec = {
        r["node"]: r["coreness"]
        for r in G.coreness_hindex(
            bdf, prior=labels_df(base + delta), inserted_edges=0
        ).collect()
    }
    assert dec == G.coreness_replay(base)
    # boundary: EMPTY prior (first shard) must equal cold start
    empty = spark.createDataFrame([], "node long, coreness int")
    cold = {
        r["node"]: r["coreness"]
        for r in G.coreness_hindex(
            fdf, prior=empty, inserted_edges=len(base) + len(delta)
        ).collect()
    }
    assert cold == full
    with _pt.raises(ValueError, match="inserted_edges"):
        G.coreness_hindex(fdf, prior=labels_df(base))
    with _pt.raises(ValueError, match=">= 0"):
        G.coreness_hindex(fdf, prior=labels_df(base), inserted_edges=-1)


def test_pagerank_warm_start_fixed_point_contract(spark):
    """Incremental PageRank warm start: after an edge delta, seeding
    from the old graph's persisted scores with tol_micro=0 lands on
    an exact integer FIXED POINT of the new graph's map (re-seeding
    from it is a no-op) within a few micro of the cold fixed point —
    the floor-division plateau documented in the operator: integer
    fixed points are unique only up to O(micro), so the pin is
    fixed-point-ness + tolerance, not cross-init bit-equality."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = list({(int(a), int(b)) for a, b in rng.integers(0, 25, (70, 2))})
    delta = [(30, 0), (0, 30), (30, 31), (1, 30)]
    bdf = _edges_df(spark, base)
    fdf = _edges_df(spark, base + delta)
    old = G.pagerank(bdf, iters=100, tol_micro=0, check_every=4)
    warm_df = G.pagerank(fdf, iters=100, tol_micro=0, check_every=4, init_scores=old)
    warm = {r["node"]: r["score_micro"] for r in warm_df.collect()}
    cold = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(fdf, iters=100, tol_micro=0, check_every=4).collect()
    }
    assert set(warm) == set(cold)
    assert 30 in warm and 31 in warm  # delta-only nodes present
    assert all(abs(warm[n] - cold[n]) <= 4 for n in cold)  # plateau
    # fixed-point-ness: re-seeding from the warm answer changes nothing
    again = {
        r["node"]: r["score_micro"]
        for r in G.pagerank(
            fdf, iters=100, tol_micro=0, check_every=4, init_scores=warm_df
        ).collect()
    }
    assert again == warm
