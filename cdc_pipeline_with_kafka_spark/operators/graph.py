"""Graph centrality for source-authority weighting.

PageRank (Page et al. 1999) over an edge list — the standard way a
training-data pipeline turns a citation/hyperlink graph into a source
quality prior (authority-weighted sampling, crawl prioritization,
domain trust tiers).  The reference has no graph tier; this joins the
training-data toolkit beside connected components (dedup.py), which
covers reachability but not centrality.

Exactness contract (the engine's integer pattern, applied to an
ITERATIVE algorithm): scores are integer micros (1_000_000 = mass
1.0 per node).  Per iteration every node sends
``score_micro div out_degree`` along each out-edge (integer division;
the ≤ out_degree−1 micro remainder is DROPPED — documented mass
leak, identical on every engine) and
``new = base + (damping_ppm · Σ contribs) div 1_000_000`` with
``base = 1_000_000 − damping_ppm``.  Every operation is exact long
arithmetic, so partition order cannot move a score by a bit and the
pure-Python replay (`pagerank_replay`) is bit-identical — the
pinned-oracle property the driver gate needs.

Dangling nodes (no out-edges) send nothing; their mass leaks like
the division remainders.  This is the "drop dangling mass" PageRank
variant — rank ORDER matches the standard formulation on connected
graphs while keeping the arithmetic exact.

Scale shape (100 TB): scores is a nodes-sized table; each iteration
is one equi-join edges ⋈ scores on src (shuffle partitioned by src —
pre-partition/bucket the edge list by src so the join reuses the
layout) + one partial-aggregated groupBy(dst) sum + one outer join
back to the node set.  `localCheckpoint` truncates lineage each
iteration so iteration N's plan never replays 1..N−1 (the
connected-components lesson).  Driver traffic is zero until the
caller collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MICRO = 1_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping_ppm: int = 850_000,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    seeds: DataFrame | None = None,
    tol_micro: int | None = None,
    init_scores: DataFrame | None = None,
    check_every: int = 1,
) -> DataFrame:
    """(node, score_micro) after `iters` exact-integer PageRank
    iterations over the DISTINCT edge list.  Nodes = src ∪ dst;
    initial score = 1_000_000 each.  damping_ppm is the damping
    factor in parts-per-million (850_000 = the classic 0.85).

    `weight_col` (positive integer column): a node distributes its
    mass proportionally — each edge carries
    ``(score_micro · w) div Σw`` (exact; remainders leak like the
    unweighted division).  Duplicate (src, dst) rows are SUMMED into
    one weighted edge; without weight_col they collapse via distinct.
    The positive contract is ENFORCED: any w ≤ 0 (or NULL) raises at
    execution on both the Spark path and the replay, instead of the
    Spark side silently dropping NULL-div rows while the replay
    raises ZeroDivisionError (engine/oracle divergence).  Bound:
    scores stay < n·MICRO, so score_micro·w needs
    n · 1e6 · max_w < 2^63 — with summed per-(src,dst) weights keep
    Σw per source below ~9e12/n.

    `seeds` (one column of node ids): PERSONALIZED PageRank — the
    teleport mass (base) lands only on the seed set instead of every
    node (Topic-Sensitive PageRank, Haveliwala 2002): authority
    relative to a trusted set, e.g. rank crawl sources by proximity
    to hand-curated domains.  Non-seed nodes get base 0.

    `tol_micro`: early termination — after each iteration ONE 1-row
    aggregate computes max|score − prev| and the loop stops when it
    is ≤ tol_micro.  At 100 TB every iteration is a full edge
    shuffle and web graphs converge unevenly, so a converged graph
    shouldn't pay the remaining fixed iterations.  With
    ``tol_micro=0`` the stop fires exactly at the integer fixed
    point, so the result is bit-identical to any larger `iters`
    (further iterations replay the fixed point); the default None
    keeps the fixed-`iters` form the driver gate replays.

    `init_scores` ((node, score_micro) — a previous run's output):
    WARM START for incremental maintenance, the coreness_hindex
    family pattern — after a small edge delta, seed from the
    persisted scores and run with `tol_micro` so convergence costs a
    handful of edge shuffles instead of the cold budget (nodes absent
    from the table start at the uniform 1e6).  Meaningful only with
    `tol_micro` (a fixed-`iters` warm start computes "N iterations
    from these scores", a different — if occasionally useful —
    quantity).  At ``tol_micro=0`` the warm result is an exact
    integer fixed point of the map — but the INTEGER map's fixed
    point is unique only up to floor-division plateaus (measured: a
    warm and a cold run landed 2 micro apart on a 20-node fixture),
    so bit-equality holds against the same init, not across inits;
    rankings are unaffected and the plateau width is O(a few micro).
    Gates therefore replay the fixed-`iters` cold form.

    `check_every` (r13): evaluate the `tol_micro` stop every k-th
    iteration instead of every iteration.  Each check is a driver
    barrier (a 1-row collect that executes the iteration chain), so
    k>1 trades up to k−1 overshoot iterations for k× fewer barriers —
    at ``tol_micro=0`` the result is BIT-IDENTICAL for any k (post-
    fixed-point iterations replay the fixed point; test-pinned), so
    latency-bound callers (test fixtures, small-graph maintenance)
    should chunk, while at 100 TB every overshoot iteration is a full
    edge shuffle and the default 1 is right.  With tol_micro>0 the
    loop stops at the first CHECKED iteration under tol (a k>1 caller
    opts into potentially more-converged scores)."""
    if not 0 <= damping_ppm <= MICRO:
        raise ValueError("damping_ppm must be in [0, 1e6]")
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if tol_micro is not None and tol_micro < 0:
        raise ValueError("tol_micro must be >= 0")
    if check_every < 1:
        raise ValueError("check_every must be >= 1")
    if weight_col is None:
        e = edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        ).distinct().withColumn("w", F.lit(1).cast("long"))
    else:
        wcol = F.col(weight_col).cast("long")
        # the raise lives INSIDE the w expression so Catalyst cannot
        # prune it: a w <= 0 or NULL edge fails the job loudly on the
        # first scan rather than vanishing into a NULL-div sum
        guarded = F.when(wcol > 0, wcol).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pagerank: weight_col must be a positive "
                          "integer, got "),
                    F.coalesce(wcol.cast("string"), F.lit("NULL")),
                )
            )
        )
        e = (
            edges.select(
                F.col(src_col).alias("src"),
                F.col(dst_col).alias("dst"),
                guarded.alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # total out-weight rides on every edge once; re-used every iteration
    e_deg = e.join(deg, "src").localCheckpoint(eager=False)
    base = MICRO - damping_ppm
    if seeds is None:
        base_col = F.lit(base).cast("long")
        nodes_based = nodes.withColumn("base_micro", base_col)
    else:
        seed_df = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        nodes_based = nodes.join(
            F.broadcast(seed_df.withColumn("_s", F.lit(1))), "node", "left"
        ).select(
            "node",
            F.when(F.col("_s").isNotNull(), F.lit(base))
            .otherwise(F.lit(0)).cast("long").alias("base_micro"),
        )
    nodes_based = nodes_based.localCheckpoint(eager=False)
    if init_scores is None:
        scores = nodes_based.select(
            "node", F.lit(MICRO).cast("long").alias("score_micro")
        )
    else:
        init = init_scores.select(
            F.col("node"), F.col("score_micro").cast("long").alias("_i")
        )
        scores = nodes_based.join(init, "node", "left").select(
            "node",
            F.coalesce(F.col("_i"), F.lit(MICRO).cast("long"))
            .alias("score_micro"),
        )
    for _i in range(iters):
        contrib = (
            e_deg.join(
                scores.withColumnRenamed("node", "src"), "src"
            )
            .select(
                "dst",
                F.expr("CAST((score_micro * w) div out_w AS BIGINT)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_micro"))
        )
        new = (
            nodes_based.join(
                contrib.withColumnRenamed("dst", "node"), "node", "left"
            )
            .select(
                "node",
                (
                    F.col("base_micro")
                    + F.expr(
                        f"CAST(({damping_ppm} * coalesce(in_micro, 0)) "
                        f"div {MICRO} AS BIGINT)"
                    )
                ).cast("long").alias("score_micro"),
            )
            .localCheckpoint(eager=False)
        )
        if tol_micro is not None and (_i + 1) % check_every == 0:
            delta = (
                new.join(
                    scores.withColumnRenamed("score_micro", "_prev"), "node"
                )
                .agg(
                    F.max(F.abs(F.col("score_micro") - F.col("_prev"))).alias("d")
                )
                .first()["d"]
            )
            scores = new
            if delta is None or delta <= tol_micro:
                break
        else:
            scores = new
    return scores


def pagerank_replay(
    edge_list: list[tuple],
    iters: int = 10,
    damping_ppm: int = 850_000,
    seeds: set | None = None,
) -> dict:
    """Pure-Python twin of `pagerank` (pinned-oracle / equivalence
    side): identical integer divisions, identical base, identical
    dangling handling; edge tuples may carry an optional third
    element as the positive integer weight (duplicates summed).
    Returns {node: score_micro}."""
    w: dict = {}
    if edge_list and len(edge_list[0]) == 3:
        for s, d, wt in edge_list:
            if wt is None or int(wt) <= 0:
                # same contract, same loudness as the Spark path's
                # raise_error — never a silent NULL-div divergence
                raise ValueError(
                    f"pagerank_replay: weight must be a positive "
                    f"integer, got {wt!r} on edge ({s!r}, {d!r})"
                )
            w[(s, d)] = w.get((s, d), 0) + int(wt)
    else:
        for s, d in set(edge_list):
            w[(s, d)] = 1
    e = sorted(w)
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    out: dict = {}
    for (s, _d), wt in w.items():
        out[s] = out.get(s, 0) + wt
    base = MICRO - damping_ppm
    base_of = {
        n: (base if seeds is None or n in seeds else 0) for n in nodes
    }
    score = {n: MICRO for n in nodes}
    for _ in range(iters):
        incoming = {n: 0 for n in nodes}
        for s, d in e:
            incoming[d] += (score[s] * w[(s, d)]) // out[s]
        score = {
            n: base_of[n] + (damping_ppm * incoming[n]) // MICRO
            for n in nodes
        }
    return score


def authority_weights(
    docs: DataFrame,
    ranks: DataFrame,
    key_col: str,
    *,
    node_col: str = "node",
    score_col: str = "score_micro",
    default_micro: int = MICRO - 850_000,
) -> DataFrame:
    """Attach a source-authority prior to every document: broadcast
    the (small, nodes-sized) rank table onto the corpus by `key_col`
    (host/domain/source id).  Missing sources get `default_micro`
    (the dangling-node floor) so downstream weighted sampling never
    sees NULLs.  One broadcast join — the corpus never shuffles."""
    r = ranks.select(
        F.col(node_col).alias(key_col),
        F.col(score_col).alias("authority_micro"),
    )
    return docs.join(F.broadcast(r), key_col, "left").withColumn(
        "authority_micro",
        F.coalesce(F.col("authority_micro"), F.lit(int(default_micro))).cast(
            "long"
        ),
    )


def triangle_census(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    the undirected simple graph induced by `edges` — the standard
    graph-quality signal beside centrality (pagerank) and
    reachability (connected components): a crawl source whose link
    neighborhood never closes triangles is a link farm; one whose
    neighborhood is a clique is a community.

    Output: (node, deg, n_tri, lcc_ppm) — `deg` is the node's degree
    in the simple graph (self-loops dropped, duplicates and reversed
    duplicates collapsed), `n_tri` the number of distinct triangles
    through the node, and `lcc_ppm` the Watts–Strogatz local
    clustering coefficient as exact integer ppm:
    ``2·n_tri·1e6 div (deg·(deg−1))`` (0 when deg < 2).  The global
    triangle count is ``sum(n_tri) / 3``; isolated nodes (no edges)
    do not appear.  Every value is exact long arithmetic — the gate
    replays it as plain SQL self-joins.

    Shape (Suri & Vassilvitskii 2011, "the curse of the last
    reducer"): each edge is ORIENTED from its (degree, id)-smaller
    endpoint to the larger, so every apex's out-degree is O(√m) even
    on power-law graphs — the wedge self-join's per-key fan-out is
    bounded and no single reducer inherits the star of a celebrity
    node.  Cost: two node-keyed shuffles (degrees, per-node counts),
    one apex-keyed wedge self-join, and one pair-keyed LEFT SEMI
    closure join against the canonical edge set.  No driver traffic,
    nothing quadratic in the neighborhood of a high-degree node."""
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    e = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lo_first, F.col("deg_b"))
            .otherwise(F.col("deg_a"))
            .alias("deg_v"),
        )
    )
    # wedges at apex u: each unordered {v1, v2} exactly once via the
    # same (deg, id) total order that oriented the edges
    o1 = oriented.select(
        "u", F.col("v").alias("v1"), F.col("deg_v").alias("d1")
    )
    o2 = oriented.select(
        "u", F.col("v").alias("v2"), F.col("deg_v").alias("d2")
    )
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tri = wedges.select(
        "u", "v1", "v2",
        F.least("v1", "v2").alias("a"),
        F.greatest("v1", "v2").alias("b"),
    ).join(e, ["a", "b"], "left_semi")
    tc = (
        tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return deg.join(tc, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        F.when(
            F.col("deg") >= 2,
            F.expr(
                "2 * coalesce(n_tri, 0) * 1000000"
                " div (deg * (deg - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("lcc_ppm"),
    )


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_hops: int = 20,
    directed: bool = False,
) -> DataFrame:
    """Minimum-hop distance from a SOURCE SET to every reachable node
    (multi-source BFS) — the graph query behind "how far is every
    account from a known-bad seed", influence radius, and link-depth
    crawl policies.  Output: (node, level) with level 0 for sources;
    unreachable nodes are absent.

    Spark-shaped iteration, the connected-components discipline: the
    frontier is a DataFrame, each hop is ONE equi-join of the frontier
    against the (pinned) edge table + an anti-join against the
    visited set, `localCheckpoint` truncates lineage per hop so plan
    depth stays O(1).  Work per hop is frontier-sized, not
    graph-sized; the loop EARLY-STOPS on an empty frontier (a bounded
    1-row count per hop, the pagerank tol pattern).  `max_hops`
    bounds the worst case (graph diameter); hitting it with a
    non-empty frontier raises rather than silently returning a
    truncated reachability set."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    e = e.distinct().localCheckpoint(eager=False)
    visited = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("level", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("_s")), "_s"
            )
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(hop))
            # lazy: the empty-frontier probe below materializes it in
            # the same job (r13 — eager paid a separate job per hop)
            .localCheckpoint(eager=False)
        )
        if nxt.limit(1).count() == 0:
            return visited
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    # A non-empty final frontier is fine if it has no UNVISITED
    # neighbors (eccentricity exactly == max_hops): expand it once
    # more and raise only when that expansion is non-empty —
    # otherwise callers must over-provision max_hops by 1.
    probe = (
        e.join(frontier.select(F.col("node").alias("_s")), "_s")
        .select(F.col("_d").alias("node"))
        .join(visited.select("node"), "node", "left_anti")
    )
    if probe.limit(1).count() != 0:
        raise ValueError(
            f"bfs_levels: unvisited nodes remain beyond max_hops="
            f"{max_hops}; raise max_hops (graph diameter exceeds it)"
        )
    return visited


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "w",
    node_col: str = "node",
    max_iter: int = 50,
    directed: bool = False,
    micro: int = 1_000_000,
) -> DataFrame:
    """Weighted single/multi-source shortest paths — `bfs_levels`'
    weighted sibling (min TOTAL COST, not min hops: the cheapest
    replication route, the closest seed by edge latency).

    Weights quantize to integer micros at one explicit seam and MUST
    be strictly positive — NULL/zero/negative raises loudly inside
    the plan (the pagerank positive-weight contract, graph.py): with
    negative edges Bellman–Ford semantics silently change, and a
    data bug should never change algorithm semantics quietly.
    Distances are exact integer min-plus sums, so every engine lands
    identical micros (no float accumulation).

    Spark-shaped frontier iteration (Bellman–Ford with the SPFA
    frontier optimization, the connected-components discipline): per
    round ONE frontier×edges equi-join, a per-node min, and an
    improvement join against the current distances;
    `localCheckpoint` truncates lineage per round; EARLY-STOPS when
    no distance improves (≤ diameter rounds on positive weights);
    raises if still improving at `max_iter` rather than silently
    returning partial distances.

    Output: (node, dist_micro) for every reachable node (sources at
    0); unreachable nodes are absent.
    """
    wq = F.expr(f"CAST(round({weight_col} * {micro}, 0) AS BIGINT)")
    bad = F.col("_w").isNull() | (F.col("_w") <= 0)
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d"), wq.alias("_w")
    )
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col(dst).alias("_s"), F.col(src).alias("_d"),
                wq.alias("_w"),
            )
        )
    e = e.withColumn(
        "_w",
        F.when(
            bad,
            F.raise_error(F.concat(
                F.lit("sssp: weights must be strictly positive, got "),
                F.coalesce(F.col("_w").cast("string"), F.lit("NULL")),
            )).cast("long"),
        ).otherwise(F.col("_w")),
    ).localCheckpoint(eager=False)
    dist = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist_micro", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_iter):
        cand = (
            e.join(
                frontier.select(
                    F.col("node").alias("_s"),
                    F.col("dist_micro").alias("_fd"),
                ),
                "_s",
            )
            .select(
                F.col("_d").alias("node"),
                (F.col("_fd") + F.col("_w")).alias("dist_micro"),
            )
            .groupBy("node")
            .agg(F.min("dist_micro").alias("dist_micro"))
        )
        improved = (
            cand.join(
                dist.select(
                    "node", F.col("dist_micro").alias("_old")
                ),
                "node", "left",
            )
            .filter(
                F.col("_old").isNull()
                | (F.col("dist_micro") < F.col("_old"))
            )
            .select("node", "dist_micro")
            # lazy: the improvement probe below materializes it (r13)
            .localCheckpoint(eager=False)
        )
        if improved.limit(1).count() == 0:
            return dist
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist_micro").alias("dist_micro"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    raise ValueError(
        f"sssp: distances still improving after max_iter={max_iter}; "
        "raise max_iter (graph diameter exceeds it)"
    )


def sssp_replay(
    edges: list, sources: list, directed: bool = False,
    micro: int = 1_000_000,
) -> dict:
    """Pure-Python Dijkstra replay of `sssp` for the oracle (the
    pagerank_replay pattern): same HALF_UP micro quantization, same
    positive-weight contract, exact integer distances — must agree
    with the Spark frontier iteration on every reachable node."""
    import heapq
    from decimal import ROUND_HALF_UP, Decimal

    adj: dict = {}
    for s, d, w in edges:
        wm = int(
            Decimal(repr(w * micro)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        ) if not isinstance(w, int) else w * micro
        if wm <= 0:
            raise ValueError("sssp_replay: weights must be positive")
        adj.setdefault(s, []).append((d, wm))
        if not directed:
            adj.setdefault(d, []).append((s, wm))
    dist: dict = {n: 0 for n in sources}
    heap = [(0, repr(n), n) for n in sources]
    heapq.heapify(heap)
    while heap:
        du, _, u = heapq.heappop(heap)
        if du > dist.get(u, float("inf")):
            continue
        for v, wm in adj.get(u, []):
            nd = du + wm
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, repr(v), v))
    return dist


def coreness_hindex(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    prior: DataFrame | None = None,
    inserted_edges: int | None = None,
    max_rounds: int = 200,
) -> DataFrame:
    """k-core decomposition: each node's CORENESS — the largest k
    such that the node survives in a subgraph where everyone keeps
    degree ≥ k.  The degree-robust density measure behind community
    seeds and spam-farm detection (a bot clique has high coreness; a
    star hub has coreness 1 no matter how many followers).

    EXACT, via the h-index fixpoint (Lü, Zhou, Zhang & Stanley 2016:
    iterating h(v) ← H-index{h(u) : u ∈ N(v)} from the degree vector
    converges to coreness).  A peel loop would run O(k_max · rounds)
    global shrink jobs; this runs a FIXED per-round shape — one
    edge-grain equi-join + one per-node rank window + one aggregate —
    and stops at the fixpoint, so it is the form that holds at 100 TB
    and the form that supports ΔK-core maintenance.  Pinned against
    the pure-Python matula-beck peel `coreness_replay`.

    Incremental maintenance: pass `prior` (the persisted (node,
    coreness) labels of the PREVIOUS edge set) together with
    `inserted_edges` = the number of edges the delta ADDED (deletions
    are free).  Seeding uses min(deg_new, prior + inserted_edges):
    sound because one edge insertion raises any vertex's core number
    by at most 1 (the classic core-maintenance theorem, applied m
    times) and deletions only lower it, so the seed is a pointwise
    upper bound between coreness and degree — and the iteration
    converges to the EXACT new coreness from any such seed (squeeze
    against the degree-seeded trajectory; both bracket the unique
    limit).  A small CDC delta therefore converges in a handful of
    rounds instead of a full recompute; incremental ≡ full is
    pytest-pinned at boundary shards.  Do NOT clamp intermediate
    values against the seed: every uniform value below coreness is
    also a fixpoint of the h-index operator (a 5-clique at h≡3 is
    stable), so convergence-from-above is what makes the answer
    exact.

    Undirected, self-loops dropped, multi-edges collapse, isolated
    nodes absent; output (node, coreness ≥ 1).  Raises past
    `max_rounds` rather than returning a half-converged vector."""
    if (prior is None) != (inserted_edges is None):
        raise ValueError(
            "prior and inserted_edges come together: the seed bound "
            "needs both the old labels and the insertion count"
        )
    e = edges.select(F.col(src).alias("_a"), F.col(dst).alias("_b"))
    e = e.unionByName(
        e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
    ).filter(F.col("_a") != F.col("_b")).distinct() \
        .localCheckpoint(eager=True)
    deg = e.groupBy("_a").agg(F.count(F.lit(1)).alias("_d"))
    if prior is None:
        h = deg.select("_a", F.col("_d").alias("_h"))
    else:
        if inserted_edges < 0:
            raise ValueError("inserted_edges must be >= 0")
        p = prior.select(
            F.col("node").alias("_a"),
            F.col("coreness").cast("long").alias("_c0"),
        )
        h = deg.join(p, "_a", "left_outer").select(
            "_a",
            F.least(
                F.col("_d"),
                F.coalesce(F.col("_c0"), F.lit(0))
                + F.lit(int(inserted_edges)),
            ).alias("_h"),
        )
    h = h.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        nbr = e.join(
            h.select(F.col("_a").alias("_b"), F.col("_h").alias("_hv")),
            "_b",
        )
        w = Window.partitionBy("_a").orderBy(F.col("_hv").desc())
        nxt = (
            nbr.withColumn("_rn", F.row_number().over(w))
            .groupBy("_a")
            .agg(
                F.max(F.least(F.col("_rn"), F.col("_hv"))).alias("_h")
            )
            # lazy: the fixpoint probe below materializes it (r13)
            .localCheckpoint(eager=False)
        )
        n_changed = (
            nxt.join(
                h.select("_a", F.col("_h").alias("_hp")), "_a"
            )
            .filter(F.col("_h") != F.col("_hp"))
            .limit(1)
            .count()
        )
        h = nxt
        if n_changed == 0:
            return h.select(
                F.col("_a").alias("node"),
                F.col("_h").cast("int").alias("coreness"),
            )
    raise ValueError(
        f"coreness_hindex: no fixpoint after max_rounds={max_rounds}; "
        "raise the bound"
    )


def coreness_replay(edges: list, max_k: int = 64) -> dict:
    """Pure-Python k-core replay (matula-beck peeling) for the
    oracle — must agree with `coreness_hindex` on every node."""
    adj: dict = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    core: dict = {}
    k = 1
    while adj and k <= max_k:
        changed = True
        while changed:
            drop = [n for n, nb in adj.items() if len(nb) < k]
            changed = bool(drop)
            for n in drop:
                core[n] = k - 1
                for m in adj.get(n, ()):  # prune back-refs
                    adj.get(m, set()).discard(n)
                adj.pop(n, None)
        for n in adj:
            core[n] = k
        k += 1
    if adj and k > max_k:
        raise ValueError("coreness_replay: raise max_k")
    return {n: c for n, c in core.items() if c >= 1}


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan, Albert &
    Kumara 2007), made DETERMINISTIC: every node starts with its own
    id as label; each round every node adopts the MODE of its
    neighbors' previous-round labels (count desc, then label asc —
    the engine's mode_by_group tie-break), isolated-in-round nodes
    keep their label.  EXACTLY `n_rounds` rounds, no convergence
    stop: synchronous LPA can 2-cycle on bipartite structures, so a
    fixed round count is the only semantics that is a pure function
    of (graph, n_rounds) — which is what makes the result
    engine-replayable (the oracle replays the same rounds in pure
    Python).  Communities are label groups after the last round.

    Self-loops are dropped; edges are treated as UNDIRECTED (each
    edge feeds both endpoints).  Shape per round: one edge-keyed
    join (labels onto the neighbor side) + one (node, label) count
    aggregate + one node-keyed mode window — all shuffles carry
    edges or nodes, never pairs-of-pairs; `localCheckpoint` pins
    each round (the components loop discipline, graph.py:45).
    Rounds are the product's lever: more rounds = larger merged
    communities; the default 5 matches the paper's observed
    near-convergence on social graphs.

    Output: (node, label) — nodes sharing a label are one community.
    """
    if n_rounds < 1:
        raise ValueError("n_rounds must be >= 1")
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("u").alias("node")).distinct() \
        .localCheckpoint(eager=True)
    labels = nodes.withColumn("label", F.col("node"))
    w_mode = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("nlbl").asc()
    )
    for _ in range(int(n_rounds)):
        msgs = und.join(
            labels.select(
                F.col("node").alias("v"), F.col("label").alias("nlbl")
            ),
            "v",
        ).select(F.col("u").alias("node"), "nlbl")
        mode = (
            msgs.groupBy("node", "nlbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("_rn", F.row_number().over(w_mode))
            .filter(F.col("_rn") == 1)
            .select("node", F.col("nlbl").alias("label"))
        )
        labels = nodes.join(mode, "node", "left_outer").select(
            "node",
            F.coalesce("label", F.col("node")).alias("label"),
            # lazy: fixed-round loop with no per-round probe — the
            # caller's first action materializes the whole cascade in
            # one job; each round's plan is still truncated at the
            # checkpoint node, so analysis depth stays O(1) (r13)
        ).localCheckpoint(eager=False)
    return labels


def label_propagation_replay(edges: list, n_rounds: int = 5) -> dict:
    """Pure-Python replay of `label_propagation` for the oracle —
    must agree with the Spark loop on every node."""
    from collections import Counter

    adj: dict = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    labels = {n: n for n in adj}
    for _ in range(int(n_rounds)):
        nxt = {}
        for n, nb in adj.items():
            c = Counter(labels[m] for m in nb)
            nxt[n] = min(
                (lbl for lbl, k in c.items() if k == max(c.values()))
            ) if c else n
        labels = nxt
    return labels
