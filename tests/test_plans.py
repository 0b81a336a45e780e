"""Physical-plan assertions: the plans we rely on at 100 TB must stay
the plans Catalyst actually picks (SURVEY.md §4) — pushdown, pruning,
broadcast dims, partial aggregation, top-k pushdowns."""

from __future__ import annotations

import pytest

from cdc_pipeline_with_kafka_spark import plans
from cdc_pipeline_with_kafka_spark import queries as q

from .conftest import SF_CORRECT, SF_SMOKE


def test_scan_pushdown_and_pruning(spark):
    df = q.s5_table_scan_projection(spark, SF_CORRECT)
    assert plans.has_pushed_filters(df)
    cols = plans.read_schema_columns(df)
    assert "o_orderkey" in cols and "o_orderpriority" not in cols


def test_dim_joins_broadcast_never_shuffle(spark):
    df = q.j2_dim_joins(spark, SF_CORRECT)
    assert plans.has_broadcast_join(df)
    assert not plans.has_sort_merge_join(df)


def test_q1_partial_aggregation(spark):
    assert plans.has_partial_aggregation(q.q1_pricing_summary(spark, SF_CORRECT))


def test_global_topk_is_take_ordered(spark):
    assert plans.has_take_ordered(q.a6_topk_global(spark, SF_CORRECT))


def test_grouped_topk_uses_window_group_limit(spark):
    assert plans.has_window_group_limit(q.a5_topk_per_group(spark, SF_CORRECT))


def test_windowed_count_single_shuffle(spark):
    # tumbling-window count: one logical shuffle (AQE may add a read stage)
    df = q.a1_windowed_count(spark, SF_CORRECT)
    assert plans.has_partial_aggregation(df)


def test_anti_join_small_side_broadcast(spark):
    assert plans.has_broadcast_join(q.j3_anti_join(spark, SF_CORRECT))


def test_exists_suite_both_branches_broadcast(spark):
    """The semi and anti existence branches keep their joins broadcast
    — the big probe side never shuffles.  The suite now also hosts
    fuzzy/itemset/graph fixtures whose sort-merge joins are by design,
    so the pin filters to each existence branch (the branch literal
    constant-folds and PropagateEmptyRelation prunes the other union
    children — the bench's per-branch timing mechanism)."""
    from pyspark.sql import functions as F

    df = q.pj_exists_suite(spark, SF_CORRECT)
    for branch in ("semi", "anti"):
        sub = df.filter(F.col("branch") == branch)
        assert plans.has_broadcast_join(sub), branch
        assert not plans.has_sort_merge_join(sub), branch


def test_stream_parity_suite_is_shuffle_free(spark):
    """Both branches are stateless per-row projections over the events
    scan unioned together — zero exchanges, the shape that makes the
    streaming twin trivially correct per micro-batch."""
    df = q.stream_parity_suite(spark, SF_CORRECT)
    assert plans.exchange_count(df) == 0


def test_cosine_suite_single_udf_evaluation(spark):
    """The Arrow scorer must appear EXACTLY once in the plan: plain
    posexplode adds an implicit size>0 filter that Catalyst pushes
    below the spread Exchange, re-evaluating the expensive UDF on the
    pre-shuffle side (measured: 2 ArrowEvalPython nodes before the
    posexplode_outer fix). Same guard for the IVF assignment, where
    the join's isnotnull(centroid_id) played the same trick until the
    coalesce fold."""
    import re

    p = plans.formatted_plan(q.REGISTRY["sim_cosine_topk"][0](spark, SF_CORRECT))
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1

    p = plans.formatted_plan(q.sim_ivf_ann_topk(spark, SF_CORRECT))
    # corpus assignment + query probe — one each, nothing re-evaluated
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 2


def test_span_dedup_no_token_grain_shuffle(spark):
    """span_dedup's rewrite must stay doc-grain: Generates belong to the
    window-hash pass only (occurrence stream built twice per branch:
    agg + position join; the gate unions two branches), never a token
    posexplode feeding the reconstruction."""
    df = q.span_dedup(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # 4 window-hash Generates (span/doc/line/rep occurrence streams) +
    # 6 winnowing Generates (r6: hash-pin + fp explode for 'winn' and
    # for 'winp', plus the pair posexplode+slice expansion) + 8 census
    # Generates (r7 'cens': minhash shingle explode + winnow fp streams
    # + pair expansions over the planted corpus) — all at
    # fingerprint/window/shingle grain, never a token posexplode
    # feeding the rewrite reconstruction
    assert plan.count("Generate") <= 18
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 4


def test_classify_suite_model_joins_broadcast(spark):
    """The NB/DSIR model sides must broadcast — a SortMergeJoin here
    means the corpus is being shuffled against KB-scale model state."""
    df = q.classify_suite(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nb_vocab_cap_and_dsir_topk_are_take_ordered(spark):
    """The two classifier top-k sites must compile to
    TakeOrderedAndProject (bounded per-partition partials + driver
    merge), never an unpartitioned row_number window that serializes
    the full token/weight table through one task at corpus scale."""
    from cdc_pipeline_with_kafka_spark.operators import classify as C

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"tok{i} shared words here {i % 3}") for i in range(20)],
        ["doc_id", "lang", "text"],
    )
    from pyspark.sql import functions as F

    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("token"))
    vocab = C._vocab_topk(toks, 5)
    p = vocab._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    # and the trained model actually respects the cap end-to-end
    tl, _cs = C.train_nb(docs.withColumnRenamed("lang", "label"), "label", max_vocab=5)
    assert tl.select("token").distinct().count() <= 5

    sel = C.dsir_select(docs, docs.filter("lang = 'de'"), k=3, hash_buckets=64)
    p2 = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p2


def test_semdedup_gate_plan_shape(spark):
    """One ArrowEvalPython (the assignment matmul, never re-evaluated)
    and at most one SortMergeJoin (the intra-cluster self-join — the
    designed corpus-grain shuffle, co-partitioned on centroid_id)."""
    import re

    df = q.semdedup(spark, SF_CORRECT)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", p)) <= 1
    assert p.count("SortMergeJoin") <= 1


def test_corpus_release_gate_is_hash_arithmetic(spark):
    """mixture/split/shuffle branches are codegen map stages; the only
    SortMergeJoins are the corpus_diff full outer (hash-reduced sides)
    and the leakage-split pairs join (corpus-scale pairs, not
    broadcastable)."""
    df = q.corpus_release_suite(spark, SF_CORRECT)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("SortMergeJoin") <= 2
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_token_budget_carve_no_global_window(spark):
    """sample_token_budget's per-row cumsum must run partitioned by the
    md5-range bucket (driver prefix-scan supplies each bucket's
    entering offset) — never the unpartitioned / per-stratum-global
    window that serializes the corpus through one task (the defect
    class train_nb/dsir_select shed in r5)."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    for stratum in (None, "lang"):
        out = curation.sample_token_budget(
            docs, 5000, "n_chars", "doc_id", salt="tok:", stratum_col=stratum
        )
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" in p
        assert "SinglePartition" not in p, f"stratum={stratum}: global window"
        assert "_tb_b" in p  # cumsum partition key includes the bucket


def test_tfidf_window_form_exchange_budget(spark):
    """tfidf_top_terms' document frequency must stay a WINDOW over the
    tf rows: the agg+join formulation re-ran the scan→explode→tf
    pipeline per branch (measured r1: 14 exchanges, 3 scans).  Freeze
    the fixed plan: ≤5 exchanges, ≤2 parquet scans."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    df = curation.tfidf_top_terms(docs, k=3)
    df.count()  # AQE-final executed plan is the honest count
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") <= 5
    assert p.count("Scan parquet") <= 2


@pytest.mark.parametrize("indexed", [False, True], ids=["full", "index"])
@pytest.mark.parametrize("family", ["minhash", "simhash", "phash"])
def test_pair_search_no_join_linear_candidates(spark, family, indexed):
    """Near-dup candidates of every blocked pair family, cold start or
    against a persisted index, come from groupBy(bucket) + in-bucket
    expansion with a map-side partial aggregate — NEVER a join or a
    cartesian product: the linear-candidate contract that survives a
    100 TB corpus."""
    import hashlib

    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import dedup
    from cdc_pipeline_with_kafka_spark.operators import multimodal as mm

    if family == "phash":
        rows = [
            (i, b"P6\n4 4\n255\n" + hashlib.sha256(str(i).encode()).digest()[:48])
            for i in range(8)
        ]
        hashes = mm.phash_assets(spark.createDataFrame(rows, "asset_id long, payload binary"))
        new = hashes.filter(F.col("asset_id") >= 4) if indexed else hashes
        index = hashes.filter(F.col("asset_id") < 4) if indexed else None
        out = mm.phash_pairs(new, max_hamming=6, index_hashes=index)
    else:
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
        new = docs.filter(F.col("doc_id") % 2 == 1) if indexed else docs
        old = docs.filter(F.col("doc_id") % 2 == 0)
        if family == "minhash":
            index = dedup.minhash_signatures(old).selectExpr("id AS doc_id", "sig")
            out = dedup.minhash_lsh_pairs(new, index_sigs=index if indexed else None)
        else:
            index = dedup.simhash_fingerprints(old)
            out = dedup.simhash_pairs(new, index_fps=index if indexed else None)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p and "CartesianProduct" not in p
    assert "partial_collect_list" in p
    assert plans.has_partial_aggregation(out)


def test_kmeans_iteration_is_one_partial_agg(spark):
    """The distributed Lloyd update: codegen assignment map feeding ONE
    groupBy(cid) with map-side-combined integer cells — no Window, no
    join, no Python eval; per-iteration shuffle payload is k×(d+1)
    longs per task regardless of corpus size."""
    from cdc_pipeline_with_kafka_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    cm = [[float(v) for v in r.embedding] for r in emb.orderBy("vec_id").limit(3).collect()]
    stats = sim._kmeans_iter_stats(emb, cm, "embedding")
    p = stats._jdf.queryExecution().executedPlan().toString()
    assert plans.has_partial_aggregation(stats)
    assert "Window" not in p and "Join" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_pack_blocks_is_pure_codegen(spark):
    """The block manifest adds NO shuffle and no Python to
    pack_sequential's plan: sequence+explode+arithmetic only."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    packed = curation.pack_sequential(
        docs, token_col="n_chars", budget=4096, order_col="doc_id", stratum_col="lang"
    )
    before = packed._jdf.queryExecution().executedPlan().toString().count("Exchange")
    blocks = curation.pack_blocks(packed, token_col="n_chars", budget=4096,
                                  group_cols=["lang"])
    p = blocks._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") == before  # no new shuffle
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "Generate" in p  # the sequence explode


def test_alignment_search_plans_no_cartesian(spark):
    """Both Hough-vote alignment searches are equi-join + groupBy —
    never a cartesian/BNLJ, always map-side partial aggregation; the
    stopword-cap join broadcasts the (≤2¹⁶-row) frequency side."""
    from cdc_pipeline_with_kafka_spark.operators import multimodal as mmod

    sub = spark.createDataFrame(
        [(1, 0, 7), (1, 1, 9), (2, 0, 7), (2, 1, 9)],
        "asset_id long, frame_idx int, subfp int",
    )
    p1 = (
        mmod.audio_align_pairs(sub, min_votes=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    kps = spark.createDataFrame(
        [(1, 10, 10, 5), (2, 20, 20, 5)],
        "asset_id long, ky int, kx int, kphash int",
    )
    p2 = (
        mmod.image_overlap_pairs(kps, min_votes=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for p in (p1, p2):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "partial" in p.lower()
        assert "BroadcastHashJoin" in p  # the stopword-cap frequency join


def test_interval_join_gate_no_nested_loop(spark):
    """The 'ivj' gate branch must keep the bucketized equi-join shape
    at gate scale — a BroadcastNestedLoop here means the bucket
    explosion was optimized away or the condition leaked into the
    join."""
    df = q._interval_join_rows(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # it IS a join, just an equi one


def test_semantic_incremental_pairing_broadcasts_shard(spark):
    """semantic_neardup_incremental must BROADCAST the shard and
    stream the index: an equi-join shuffled on centroid_id collapses
    to <= nlist tasks, and Catalyst pulls the cosine filter into the
    SortMergeJoin condition — millions of interpreted-HOF cosines then
    evaluate inside those few tasks (measured 92 s -> ~15 s at sf1
    when broadcast).  Pin: no SMJ node may carry the cosine (zip_with)
    in its condition, and both pairing joins are broadcast."""
    import re

    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = sim.train_ivf_codebook(emb, nlist=4)
    assigned = sim.ivf_assign(emb, cents).localCheckpoint()
    out = sim.semantic_neardup_incremental(
        None,
        assigned.filter(F.col("vec_id") < 250),
        cents,
        threshold=0.9,
        shard_assigned=assigned.filter(F.col("vec_id") >= 250),
    )
    p = out._jdf.queryExecution().executedPlan().toString()
    for line in p.splitlines():
        if "SortMergeJoin" in line:
            assert "zip_with" not in line, line  # cosine inside an SMJ
    assert p.count("BroadcastHashJoin") >= 2


def test_pagerank_iteration_plan_no_window_no_cartesian(spark):
    """One PageRank iteration = edges⋈scores + partial-agg sum + outer
    join to nodes: no Window, no nested loop, map-side combine on the
    contribution sum."""
    from cdc_pipeline_with_kafka_spark.operators import graph as G

    from pyspark.sql import functions as F

    edges = spark.range(0, 200).selectExpr(
        "id % 40 AS src", "(id * 7) % 40 AS dst"
    ).filter("src != dst")
    out = G.pagerank(edges, iters=1)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in p and "Cartesian" not in p
    assert "BroadcastNestedLoop" not in p
    # the per-iteration checkpoint truncates lineage in the returned
    # plan, so inspect one iteration's contribution aggregate directly
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct().withColumn("score_micro", F.lit(1_000_000).cast("long"))
    contrib = (
        e.join(deg, "src")
        .join(nodes.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("CAST(score_micro div out_deg AS BIGINT)").alias("c"))
        .groupBy("dst").agg(F.sum("c").alias("in_micro"))
    )
    assert plans.has_partial_aggregation(contrib)
    pc = contrib._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in pc and "Cartesian" not in pc


def test_maxsim_topk_window_group_limit(spark):
    """MaxSim's per-query top-k compiles to WindowGroupLimit (partial
    below the exchange) — a query matching half the corpus never
    funnels its full match set into one window task."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import similarity as S

    chunks = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet").select(
        F.expr("CAST(vec_id div 4 AS BIGINT)").alias("doc_id"),
        "vec_id",
        "embedding",
    )
    q = chunks.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), "embedding"
    )
    df = S.maxsim_topk(chunks, q, k=10)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert plans.has_partial_aggregation(df)


def test_q5_star_join_dims_broadcast_and_oracle(spark):
    """The 6-table star join: nation/region broadcast, predicates
    pushed to the scans, and values match DuckDB exactly (rounded
    revenue after partial-aggregated double sums)."""
    from tests.oracle import compare, duckdb_con

    df = q.q5_local_supplier_volume(spark, SF_CORRECT)
    rows = df.collect()
    assert rows and all(r["revenue"] > 0 for r in rows)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("BroadcastHashJoin") >= 2  # nation + region at least
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert plans.has_pushed_filters(df)
    con = duckdb_con(SF_CORRECT)
    ok, msg = compare(df, con, q.Q5_SQL)
    assert ok, msg


def test_snapshot_diff_plans_equi_outer_join(spark):
    """The diff is one key-partitioned FULL OUTER equi-join — never a
    nested loop — and the column compares stay row-local (no extra
    exchange beyond the join's two sides)."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import relational

    ords = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d = relational.snapshot_diff(
        ords.filter(F.col("o_orderkey") % 7 != 0),
        ords.filter(F.col("o_orderkey") % 5 != 0),
        ["o_orderkey"],
    )
    plan = plans.formatted_plan(d)
    assert "FullOuter" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    # one exchange per join side (formatted plans print each node
    # twice: tree + detail section)
    assert plans.exchange_count(d) <= 4


def test_scd2_history_single_keyed_shuffle(spark):
    """The lead window partitions by the key — exactly one exchange,
    never a single-partition global window."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    h = relational.scd2_history(
        ev.selectExpr("user_id", "event_id", "CAST(event_id AS LONG) AS ts_us",
                      "event_type", "value"),
        ["user_id"], ["ts_us", "event_id"], ["value"],
        op_col="event_type", delete_ops=("purchase",),
    )
    plan = plans.formatted_plan(h)
    # one exchange, printed twice (tree + detail section)
    assert plans.exchange_count(h) == 2
    assert "SinglePartition" not in plan


def test_bloom_pruned_join_prunes_before_exchange(spark):
    """The bloom probe (a pure map stage) sits BELOW the join's
    exchange, so only possible-match rows are shuffled; the join
    itself is an equi-join, never a nested loop."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import sketch

    big = spark.read.parquet(f"{SF_CORRECT}/events.parquet").select(
        "event_id", "user_id"
    )
    small = spark.range(5).select((F.col("id") * 997).alias("event_id"))
    j = sketch.bloom_pruned_join(big, small, "event_id")
    plan = plans.formatted_plan(j)
    assert "MapInPandas" in plan        # the probe is a pure map stage
    assert "might_contain" in plan      # ...and its filter survives
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan               # exact equi-join re-checks FPs
    # the probe subtree feeds the join's streamed side: in the
    # root-first tree the MapInPandas line sits under the join node
    tree = plan.split("\n\n")[0].splitlines()
    join_line = next(i for i, l in enumerate(tree) if "Join" in l)
    probe_line = next(i for i, l in enumerate(tree) if "MapInPandas" in l)
    assert probe_line > join_line


def test_triangle_census_all_equi_joins(spark):
    """Degree-ordered wedge counting never degrades to a nested loop:
    the wedge self-join keys on the apex, the closure is a LEFT SEMI
    equi-join on the canonical pair."""
    from cdc_pipeline_with_kafka_spark.operators import graph

    edges = spark.range(100).selectExpr("id AS src", "(id * 7) % 40 AS dst")
    t = graph.triangle_census(edges)
    plan = plans.formatted_plan(t)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "LeftSemi" in plan


def test_prefix_jaccard_no_nested_loop_and_partial_aggs(spark):
    """The AllPairs path stays equi-keyed end to end: prefix postings
    pair in-bucket, candidates verify through equi joins; document
    frequencies partial-aggregate before their shuffle."""
    from cdc_pipeline_with_kafka_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    p = dedup.prefix_jaccard_pairs(docs, threshold=0.8, n=3)
    plan = plans.formatted_plan(p)
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert plans.has_partial_aggregation(p)


def test_mad_outliers_group_partitioned_windows(spark):
    """Both rank windows partition by the group key — never a
    single-partition global sort."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    m = sketch.mad_outliers(ev, "value", ["event_type"])
    plan = plans.formatted_plan(m)
    assert "SinglePartition" not in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def test_join_skew_report_partial_agg_counts(spark):
    """Both per-side multiplicity counts partial-aggregate before the
    key shuffle (map-side combine), and the top-k is a TakeOrdered."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    r = relational.join_skew_report(
        ev.filter("event_type = 'view'"),
        ev.filter("event_type = 'click'"), "user_id",
    )
    assert plans.has_partial_aggregation(r)
    assert plans.has_take_ordered(r)


def test_plan_facts_and_assert_plan_contracts(spark):
    """The plan-pin discipline as a utility: shuffle/sort/join bounds
    named per operator instead of ad-hoc string matching."""
    import pytest as _pt

    import pyspark.sql.functions as F
    from cdc_pipeline_with_kafka_spark.operators import stats as S
    from cdc_pipeline_with_kafka_spark.util import assert_plan, plan_facts

    df = spark.createDataFrame(
        [("g", float(i), float(i * 2)) for i in range(50)],
        "g string, x double, y double",
    )
    # ols: one row shuffle + the final single-partition gather; no
    # sorts, no windows, everything hash-aggregated
    facts = assert_plan(
        S.ols_by_group(df, "x", "y", ["g"]),
        sort_aggregates=0, windows=0, nested_loop_joins=0, exchanges=2,
    )
    assert facts["hash_aggregates"] >= 2  # partial + final
    # a filter that reaches the parquet scan shows as a pushed filter
    p = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    f2 = plan_facts(p.filter(F.col("o_orderkey") == 7).select("o_orderkey"))
    assert f2["file_scans"] == 1 and f2["pushed_filters"] == 1
    # violated bound raises with the plan embedded
    with _pt.raises(AssertionError, match="exchanges"):
        assert_plan(df.groupBy("g").count(), exchanges=0)
    with _pt.raises(KeyError):
        assert_plan(df, bogus_fact=1)


def test_frequent_itemsets_plan_no_nested_loops(spark):
    """A-priori levels are posting-style equi-joins + array-keyed
    aggregates: no nested-loop/cartesian join anywhere, partial
    aggregation present."""
    from cdc_pipeline_with_kafka_spark.operators.curation import (
        frequent_itemsets,
    )
    from cdc_pipeline_with_kafka_spark.util import assert_plan

    df = spark.createDataFrame(
        [(b, i) for b in range(8) for i in range(b % 4 + 1)],
        "b int, i int",
    )
    out = frequent_itemsets(df, "b", "i", min_support=2, max_k=3)
    # levels are localCheckpoint-pinned (they appear as RDD scans in
    # the final plan), so the pin here is on the assembly: no
    # nested-loop/cartesian anywhere in what remains
    facts = assert_plan(out, nested_loop_joins=0)
    assert "Cartesian" not in facts["plan"]


def test_multi_touch_attribution_plan_keyed_join(spark):
    """The lookback join plans as a key-equi join with the time bound
    as post-condition — never BroadcastNestedLoop/cartesian — and the
    position window rides the same key partitioning."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators.windows import (
        multi_touch_attribution,
    )
    from cdc_pipeline_with_kafka_spark.util import assert_plan

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "view"),
         (1, "2024-01-01 11:00:00", 2, "purchase")],
        "user_id int, ts string, event_id int, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = multi_touch_attribution(
        df, ["user_id"], "ts", "event_id", "event_type",
        "purchase", ["view", "click"], 60, "linear",
    )
    facts = assert_plan(out, nested_loop_joins=0)
    assert "Cartesian" not in facts["plan"]
    assert facts["windows"] >= 1


def test_assert_plan_eq_suffix_and_codegen_pin(spark):
    """`_eq` bounds are EXACT (fail on fewer as well as more — the
    documented API), and `codegen=True` executes the plan with the
    janino fallback disabled so a stage that silently drops to
    interpreted eval (the 64 KB literal-array trap quantile_normalize
    hit in round 9) fails the test instead of showing up as bench
    noise."""
    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators import sketch as SK
    from cdc_pipeline_with_kafka_spark.util import assert_plan

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(40)], "g string, x double"
    )
    agg = df.groupBy("g").count()
    # upper bound: more-than fails, fewer-than passes
    assert_plan(agg, exchanges=5)
    # exact: FEWER than the stated value must also fail
    with _pt.raises(AssertionError, match="exchanges=.*!= 5"):
        assert_plan(agg, exchanges_eq=5)
    facts = assert_plan(agg, exchanges_eq=assert_plan(agg)["exchanges"])
    assert facts["exchanges"] >= 1
    # the qn regression: the relational cut-table path at n_cuts=1000
    # must survive fallback-disabled execution (the literal-struct
    # form it replaced blows the 64 KB codegen method limit here)
    # (qn's one nested-loop is the intentional broadcast of the
    # 1-row _nn total into the grid — not bounded here)
    qn = SK.quantile_normalize(df, "x", ["g"], n_cuts=1000)
    assert_plan(qn, codegen=True)
    # a plan with no codegen span at all is a loud failure, not a
    # silent pass: with whole-stage codegen disabled (the fully-
    # interpreted world the pin guards against) the assert must raise
    prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        bare = spark.createDataFrame([(1,)], "a int").selectExpr("a + 1")
        with _pt.raises(AssertionError, match="WholeStageCodegen"):
            assert_plan(bare, codegen=True)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)


def test_spread_keyless_id_hash_balances_duplicate_payloads(spark):
    """r13 (VERDICT r12 #3): the keyless spread() hashes id-like
    columns when the schema has them, so duplicate-PAYLOAD rows (the
    dedup-corpus shape: many byte-identical texts under distinct ids)
    spread across partitions instead of colocating on one xxhash64
    bucket.  Planted skew: 30% of rows share one payload."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.util import spread

    n = 20_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 3, F.lit("the same boilerplate text"))
        .otherwise(F.concat(F.lit("unique "), F.col("id").cast("string")))
        .alias("text"),
    )
    sizes = [
        r["cnt"]
        for r in spread(df)
        .groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ]
    # id-hash balance: no partition holds anywhere near the 30% hot
    # payload; bound is generous (2x fair share) to stay noise-proof
    target = df.sparkSession.sparkContext.defaultParallelism
    assert len(sizes) > 1
    assert max(sizes) < 2 * (n / target)
    # the hash expression rides the id column only — payload columns
    # are not part of the partition key (lets the scan prune them)
    plan = spread(df)._jdf.queryExecution().analyzed().toString()
    hash_args = plan.split("xxhash64(", 1)[1].split(")", 1)[0]
    assert "doc_id" in hash_args and "text" not in hash_args
    # a frame with NO id-like column keeps the all-columns content hash
    noid = spark.range(100).select(
        (F.col("id") % 7).alias("a"), (F.col("id") % 3).alias("b")
    )
    plan2 = spread(noid)._jdf.queryExecution().analyzed().toString()
    assert "xxhash64(a" in plan2
