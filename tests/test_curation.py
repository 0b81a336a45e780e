"""Curation operators (sampling / packing / TF-IDF) and near-dup
connected-components clustering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import curation, dedup


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 + pair 10-11 + isolated (absent from pairs)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # worst-case diameter: a 12-node path — needs multiple rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs).collect()
    assert {r["cluster_id"] for r in comp} == {1}
    assert len(comp) == 12


def test_dedup_survivors_marks_one_canonical_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 6)], "id_a long, id_b long")
    out = dedup.dedup_survivors(docs, pairs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[2]["cluster_id"] == by_id[5]["cluster_id"] == by_id[6]["cluster_id"] == 2
    assert by_id[2]["is_canonical"] and not by_id[5]["is_canonical"]
    # singletons are their own canonical cluster
    assert by_id[1]["cluster_id"] == 1 and by_id[1]["is_canonical"]
    n_canonical = sum(1 for r in out if r["is_canonical"])
    assert n_canonical == 5  # 4 singletons + 1 cluster survivor


def test_hash_sample_reproducible_and_stratified(spark):
    df = spark.range(1, 2001).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("zh").alias("lang"),
    )
    s1 = {r["doc_id"] for r in curation.hash_sample(df, 20, "doc_id", salt="x:").collect()}
    s2 = {r["doc_id"] for r in curation.hash_sample(df, 20, "doc_id", salt="x:").collect()}
    assert s1 == s2  # reproducible
    assert 0.15 < len(s1) / 2000 < 0.25  # ≈20%
    # a higher rate strictly contains the lower rate (nested samples)
    s_half = {r["doc_id"] for r in curation.hash_sample(df, 50, "doc_id", salt="x:").collect()}
    assert s1 <= s_half
    # stratified: en at 5%, zh at 50%
    strat = curation.hash_sample(
        df, 20, "doc_id", salt="x:", stratum_col="lang",
        stratum_rates={"en": 5, "zh": 50},
    )
    counts = {r["lang"]: r["cnt"] for r in strat.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert counts["zh"] > counts["en"] * 3


def test_pack_sequential_blocks(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 50), (5, 300)],
        "doc_id long, n_tokens long",
    )
    out = {
        r["doc_id"]: (r["start_block"], r["end_block"], r["block_offset"])
        for r in curation.pack_sequential(
            df, "n_tokens", 250, "doc_id", shards=1
        ).collect()
    }
    # cum: 100,200,300,350,650 → budget 250
    assert out[1] == (0, 0, 0)
    assert out[2] == (0, 0, 100)
    assert out[3] == (0, 1, 200)  # spans the 250 boundary
    assert out[4] == (1, 1, 50)
    assert out[5] == (1, 2, 100)
    # invariant: blocks are contiguous and offsets stay inside budget
    assert all(0 <= off < 250 for _, _, off in out.values())


def test_pack_sequential_unstratified_default_avoids_global_sort(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    # default (auto hash-shard): no single-partition window exchange
    from cdc_pipeline_with_kafka_spark import plans

    auto = curation.pack_sequential(df, "n_tokens", 100, "doc_id")
    assert "SinglePartition" not in plans.formatted_plan(auto)
    # shards=1 is the explicit opt-in to the old global numbering
    glob = curation.pack_sequential(df, "n_tokens", 100, "doc_id", shards=1)
    assert "SinglePartition" in plans.formatted_plan(glob)

    rows = auto.collect()
    assert all(0 <= r["block_offset"] < 100 for r in rows)
    # per-shard packing ≡ independently packing each shard's rows
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["pack_shard"], []).append(r)
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard_rows:
            assert r["start_block"] == cum // 100
            assert r["block_offset"] == cum % 100
            cum += r["n_tokens"]
            assert r["end_block"] == (cum - 1) // 100


def test_connected_components_auto_long_chain(spark):
    # 31-node path: diameter far beyond the label budget — components
    # hand off to star contraction and still produce min-id clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs).collect()
    assert len(comp) == 31
    assert {r["cluster_id"] for r in comp} == {0}
    # survivors API end to end
    docs = spark.createDataFrame([(i,) for i in range(31)], "doc_id long")
    surv = dedup.dedup_survivors(docs, pairs).collect()
    assert sum(1 for r in surv if r["is_canonical"]) == 1
    assert all(r["cluster_id"] == 0 for r in surv)


def test_tfidf_rare_term_outranks_common(spark):
    rows = [(i, "common shared words everywhere") for i in range(1, 10)]
    rows.append((10, "common rareword rareword"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top = curation.tfidf_top_terms(df, k=1).collect()
    by_id = {r["doc_id"]: r["term"] for r in top}
    assert by_id[10] == "rareword"  # tf=2 AND rare beats the shared terms


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    # planted violation: one star round cannot finish a 30-node chain
    # (it outlives the label budget), so components must raise rather
    # than return half-contracted labels
    monkeypatch.setattr(dedup, "STAR_ROUNDS", 1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs)


def test_curate_corpus_end_to_end(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8, n=3)
    out = curation.curate_corpus(
        docs,
        min_quality=0.3,
        near_dup_pairs=pairs,
        sample_rate_pct=50,
        stratum_col="lang",
        pack_budget=4096,
        token_col="n_chars",
        salt="e2e:",
    )
    rows = out.collect()
    assert 0 < len(rows) < docs.count()
    # packed columns present and sane
    assert all(0 <= r["block_offset"] < 4096 for r in rows)
    assert all(r["end_block"] >= r["start_block"] for r in rows)
    # deterministic: same inputs → identical output
    again = curation.curate_corpus(
        docs, min_quality=0.3, near_dup_pairs=pairs, sample_rate_pct=50,
        stratum_col="lang", pack_budget=4096, token_col="n_chars", salt="e2e:",
    ).collect()
    key = lambda r: r["doc_id"]
    assert sorted(rows, key=key) == sorted(again, key=key)


def test_curate_corpus_with_repetition_and_decontamination(spark):
    docs = spark.createDataFrame(
        [
            (1, "unique words alpha beta gamma delta epsilon zeta eta theta"),
            (2, "spam spam spam spam spam spam spam spam"),  # repetition-filtered
            (3, "held out secret eval phrase plus other words here too"),
            (4, "contains the held out secret eval phrase embedded inside"),  # contaminated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "held out secret eval phrase")], "doc_id long, text string"
    )
    out = curation.curate_corpus(
        docs.filter(F.col("doc_id") != 3),
        min_quality=None,
        repetition_ppm_max=500_000,
        benchmark=bench,
        decontam_n=4,
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1]  # 2 repetition-filtered, 4 decontaminated


# distinct quality-passing bases (stopwords + sane length); near-dups
# are constructed ONLY by reusing a base — a shared filler prefix would
# make unrelated docs shingle-similar and defeat the test
_ALPHA = "the quick brown fox jumps over the lazy dog and it runs far away in the field today"
_BETA = "a storm is coming to the coast and people are moving inland with their cars and boats"
_GAMMA = "markets opened higher this morning as traders bet on a rate cut from the central bank"


def test_admit_shard_cold_start_and_incremental(spark):
    """Two-day shard admission against persisted index deltas: every
    rejection reason fires, state never re-reads shard 1."""
    shard1 = spark.createDataFrame(
        [
            (1, _ALPHA),
            (2, _ALPHA),                          # exact dup of 1 (in-shard)
            (3, _BETA),
            (4, "tiny"),                          # fails quality
        ],
        "doc_id long, text string",
    )
    out1 = curation.admit_shard(shard1, min_quality=0.5)
    admitted1 = {r["doc_id"] for r in out1["admitted"].collect()}
    reasons1 = {r["doc_id"]: r["reason"] for r in out1["rejected"].collect()}
    assert admitted1 == {1, 3}
    assert reasons1 == {2: "exact_dup_shard", 4: "quality"}

    sigs = out1["sigs_delta"].collect()
    hashes = out1["hashes_delta"].collect()
    assert {r["doc_id"] for r in sigs} == {1, 3} == {r["doc_id"] for r in hashes}

    # persist state (collect-and-recreate simulates the parquet round trip)
    index_sigs = spark.createDataFrame(sigs)
    index_hashes = spark.createDataFrame(hashes)

    shard2 = spark.createDataFrame(
        [
            (11, _ALPHA),                         # exact dup of corpus doc 1
            (12, _ALPHA + " extra"),              # near dup of corpus doc 1
            (13, _GAMMA),
            (14, _GAMMA + " soon"),               # near dup of 13 (in-shard)
            (15, "x"),                            # fails quality
        ],
        "doc_id long, text string",
    )
    out2 = curation.admit_shard(
        shard2, index_sigs=index_sigs, index_hashes=index_hashes, min_quality=0.5
    )
    admitted2 = {r["doc_id"] for r in out2["admitted"].collect()}
    reasons2 = {r["doc_id"]: r["reason"] for r in out2["rejected"].collect()}
    assert reasons2[11] == "exact_dup_corpus"
    assert reasons2[12] == "near_dup_corpus"
    assert reasons2[15] == "quality"
    assert reasons2[14] == "near_dup_shard"  # 13 is the lowest-id survivor
    assert admitted2 == {13}
    # deltas cover exactly the admitted docs
    assert {r["doc_id"] for r in out2["sigs_delta"].collect()} == {13}


def test_admit_shard_sequential_equals_batch(spark):
    """Sequential two-shard admission == one-shot batch curation of the
    union (ids grow across shards, so lowest-id survivorship agrees)."""
    rows1 = [
        (1, _ALPHA),
        (2, _ALPHA),
        (3, _BETA),
    ]
    rows2 = [
        (11, _ALPHA),
        (12, _GAMMA),
    ]
    s1 = spark.createDataFrame(rows1, "doc_id long, text string")
    s2 = spark.createDataFrame(rows2, "doc_id long, text string")

    out1 = curation.admit_shard(s1, min_quality=0.5)
    isig = spark.createDataFrame(out1["sigs_delta"].collect())
    ihash = spark.createDataFrame(out1["hashes_delta"].collect())
    out2 = curation.admit_shard(s2, index_sigs=isig, index_hashes=ihash, min_quality=0.5)
    sequential = {r["doc_id"] for r in out1["admitted"].collect()} | {
        r["doc_id"] for r in out2["admitted"].collect()
    }

    union = s1.unionByName(s2)
    pairs = dedup.minhash_lsh_pairs(union, threshold=0.5)
    batch = {
        r["doc_id"]
        for r in curation.curate_corpus(
            union, min_quality=0.5, near_dup_pairs=pairs
        ).collect()
    }
    assert sequential == batch


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-dup pairs never straddle splits; singletons split by own
    id; weights respected on aggregate; assignment is stable."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 401)], "doc_id long, text string"
    )
    # chain pairs: (1,2), (3,4), ..., (39,40) → 20 two-doc clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40, 2)], "id_a long, id_b long"
    )
    out = curation.leakage_safe_split(docs, pairs).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cluster_of = {r["doc_id"]: r["cluster_id"] for r in out}
    assert len(split_of) == 400
    for a in range(1, 40, 2):
        assert split_of[a] == split_of[a + 1], f"pair ({a},{a+1}) straddles splits"
        assert cluster_of[a] == cluster_of[a + 1] == a
    from collections import Counter

    counts = Counter(split_of.values())
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > 300  # ~96% of 400
    # stability: rerun → identical assignment
    again = {
        r["doc_id"]: r["split"]
        for r in curation.leakage_safe_split(docs, pairs).collect()
    }
    assert again == split_of
    # appending docs never moves existing assignments
    more = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 801)], "doc_id long, text string"
    )
    grown = {
        r["doc_id"]: r["split"]
        for r in curation.leakage_safe_split(more, pairs).collect()
    }
    assert all(grown[d] == s for d, s in split_of.items())

    with pytest.raises(ValueError):
        curation.leakage_safe_split(docs, weights={"train": 90, "val": 5})


def test_corpus_report_single_row(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "the quick brown fox"),   # exact dup
            (3, "completely different words here"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    r = curation.corpus_report(docs).collect()
    assert len(r) == 1
    row = r[0]
    assert row["n_docs"] == 4
    assert row["total_tokens"] == 4 + 4 + 4 + 0
    assert row["exact_dup_rate"] == 0.25  # 3 distinct contents / 4 docs
    assert 0.0 <= row["avg_quality"] <= 1.0
    assert row["median_chars"] > 0


def test_chunk_by_sentences_never_splits_a_sentence(spark):
    s1 = "one two three four."           # 4 tokens
    s2 = "five six seven eight nine!"    # 5 tokens
    s3 = "ten eleven?"                   # 2 tokens
    s4 = " ".join(f"w{i}" for i in range(15)) + "."  # 15 tokens, > budget alone
    docs = spark.createDataFrame(
        [(1, f"{s1} {s2} {s3} {s4}"), (2, "short doc."), (3, "")],
        "doc_id long, text string",
    )
    rows = curation.chunk_by_sentences(docs, budget_tokens=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # greedy, budget 8: s1(4) fits; +s2(5) would be 9 → new chunk;
    # s2(5)+s3(2)=7 fits; +s4(15) would overflow → s4 alone
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"] == s1 and c1[0]["n_tokens"] == 4
    assert c1[1]["chunk_text"] == f"{s2} {s3}" and c1[1]["n_tokens"] == 7
    assert c1[2]["chunk_text"] == s4 and c1[2]["n_tokens"] == 15
    # hard budget: only a chunk holding a single giant sentence may overrun
    for r in c1:
        assert r["n_tokens"] <= 8 or r["chunk_text"] == s4
    # every sentence appears intact in exactly one chunk
    joined = " ".join(r["chunk_text"] for r in c1)
    for s in (s1, s2, s3, s4):
        assert s in joined
    assert by_doc[2][0]["chunk_text"] == "short doc."
    assert 3 not in by_doc  # empty doc → no chunks


def _union_find_components(edges):
    """Pure-Python oracle: node → minimum id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_star_equivalence(spark, monkeypatch):
    """connected_components == a union-find oracle on chains, islands,
    small dense clusters and a batch of random graphs.  The 30-node
    path outlives the label budget and is finished by the star phase
    in at most 8 star rounds (≫ log2(30)); the small dense clusters
    exit during the label rounds and never reach it."""
    import random

    monkeypatch.setattr(dedup, "STAR_ROUNDS", 8)
    star_runs = []
    star = dedup._star_components
    monkeypatch.setattr(
        dedup, "_star_components", lambda e: star_runs.append(1) or star(e)
    )
    path = [(i, i + 1) for i in range(1, 30)]               # 30-node path
    dense = [(1, 2), (2, 3), (1, 3), (10, 11)]              # early exit
    cases = [
        [(1, 2), (2, 3), (10, 11)],
        path,
        dense,
        [(1, 2), (2, 1), (3, 3), (4, 5), (5, 6), (6, 4)],  # dups/self/cycle
    ]
    rng = random.Random(7)
    for _ in range(4):
        n = rng.randint(2, 40)
        cases.append(
            [(rng.randint(1, n), rng.randint(1, n)) for _ in range(rng.randint(1, 60))]
        )
    for edges in cases:
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        star_runs.clear()
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"]
               for r in dedup.connected_components(pairs).collect()}
        assert got == _union_find_components(edges), edges
        if edges == path:
            assert star_runs and set(got.values()) == {1}
        if edges == dense:
            assert not star_runs
            assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_source_stats_and_filter_by_source(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import (
        filter_by_source,
        source_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "good", "the quick brown fox jumps over the lazy dog again and again"),
            (2, "good", "a different sentence with the usual stopwords in it for now"),
            (3, "mirror", "identical mirrored page content here"),
            (4, "mirror", "identical mirrored page content here"),
            (5, "mirror", "identical  mirrored   page content here"),  # ws-normalized dup
            (6, "junk", "zzz"),
        ],
        ["doc_id", "source", "text"],
    )
    stats = {r.source: r for r in source_stats(docs).collect()}
    assert stats["good"].n_docs == 2 and stats["good"].exact_dup_rate == 0.0
    # 3 docs, 1 distinct normalized hash -> dup rate 2/3
    assert stats["mirror"].n_docs == 3
    assert abs(stats["mirror"].exact_dup_rate - round(1 - 1 / 3, 6)) < 1e-9
    assert stats["junk"].total_tokens == 1

    kept = filter_by_source(docs, max_dup_rate=0.5)
    assert {r.source for r in kept.collect()} == {"good", "junk"}
    kept2 = filter_by_source(docs, max_dup_rate=0.5, blocklist=["junk"])
    assert {r.source for r in kept2.collect()} == {"good"}
    # domain rollup must broadcast into the corpus filter
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_curate_corpus_round4_stages_compose(spark):
    """Domain filter -> NB classifier filter -> exact dedup -> span
    removal, all composed through curate_corpus."""
    from cdc_pipeline_with_kafka_spark.operators import classify as C
    from cdc_pipeline_with_kafka_spark.operators.curation import curate_corpus

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "good", f"the quick brown fox jumps over the dog {shared}"),
            (2, "good", f"prefix words and more text here now {shared}"),
            (3, "mirror", "same page every time"),
            (4, "mirror", "same page every time"),
            (5, "mirror", "same  page EVERY time"),
        ],
        ["doc_id", "source", "text"],
    )
    train = spark.createDataFrame(
        [
            (100, "keep", "the quick brown fox jumps over the dog alpha beta gamma "
                          "delta epsilon zeta eta theta iota kappa prefix words "
                          "more text here now"),
            (101, "drop", "same page every time again and again"),
        ],
        ["doc_id", "label", "text"],
    )
    model = C.train_nb(train, "label")
    out = curate_corpus(
        docs,
        min_quality=None,
        source_col="source",
        source_max_dup_rate=0.5,      # kills the mirror domain
        nb_model=model,
        nb_keep_label="keep",
        span_dedup_k=5,               # strips the shared passage from doc 2
    ).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 2]
    assert shared in out[0].text            # canonical holder keeps it
    assert shared not in out[1].text
    assert out[1].text == "prefix words and more text here now"


def test_curate_corpus_c4_stage(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "A first proper sentence with enough words here.\n"
                "A second proper sentence with enough words too!\n"
                "And a third proper closing sentence right here."),
            (2, "no punctuation no luck\nstill nothing here"),
        ],
        ["doc_id", "text"],
    )
    out = curate_corpus(docs, min_quality=None, c4_rules=True).collect()
    assert [r.doc_id for r in out] == [1]
    assert out[0].text.count("\n") == 2  # cleaned text replaces the column


def test_shuffle_deterministic_permutation(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import shuffle_deterministic

    df = spark.range(1, 201).select(F.col("id").alias("doc_id"))

    def order(salt):
        rows = shuffle_deterministic(df, salt=salt, partitions=4).collect()
        # partition-major order: toLocalIterator preserves partition
        # order; within a collect the planner concatenates partitions
        return [r.doc_id for r in rows]

    a, b = order("epoch1:"), order("epoch1:")
    assert a == b                      # reproducible across runs
    assert sorted(a) == list(range(1, 201))  # a permutation
    c = order("epoch2:")
    assert c != a                      # salt changes the order
    # no single-partition global sort in the plan
    plan = shuffle_deterministic(df, salt="x", partitions=4)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower() or "RangePartitioning" in plan


def test_build_mixture_reproducible_and_nested(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import build_mixture

    web = spark.range(1, 1001).select(F.col("id").alias("doc_id"))
    code = spark.range(1, 1001).select(F.col("id").alias("doc_id"), F.lit("py").alias("lang"))
    m1 = build_mixture({"web": (web, 30), "code": (code, 10)})
    m2 = build_mixture({"web": (web, 30), "code": (code, 10)})
    r1 = {(r.mixture_source, r.doc_id) for r in m1.collect()}
    assert r1 == {(r.mixture_source, r.doc_id) for r in m2.collect()}  # reproducible
    by_src = {}
    for src, _ in r1:
        by_src[src] = by_src.get(src, 0) + 1
    assert 0.2 < by_src["web"] / 1000 < 0.4
    assert 0.05 < by_src["code"] / 1000 < 0.16
    # missing columns null-fill through unionByName
    assert {r.lang for r in m1.collect()} == {None, "py"}
    # raising one rate strictly grows that part, keeps the other fixed
    m3 = {(r.mixture_source, r.doc_id) for r in build_mixture({"web": (web, 60), "code": (code, 10)}).collect()}
    assert {d for s, d in r1 if s == "web"} <= {d for s, d in m3 if s == "web"}
    assert {d for s, d in r1 if s == "code"} == {d for s, d in m3 if s == "code"}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_mixture({})
    with _pytest.raises(ValueError):
        build_mixture({"x": (web, 101)})


def test_admit_shard_passage_strip_stage(spark):
    """span_k wires remove_corpus_spans into admission: shard-2 docs
    lose passages shard 1 already contributed, and windows_delta keeps
    the index current."""
    s1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta and a unique closing line here")],
        ["doc_id", "text"],
    )
    out1 = curation.admit_shard(s1, span_k=5)
    assert {r.doc_id for r in out1["admitted"].collect()} == {1}
    widx = out1["windows_delta"].localCheckpoint()
    assert widx.count() > 0

    s2 = spark.createDataFrame(
        [
            (10, "fresh intro alpha beta gamma delta epsilon zeta eta theta fresh outro"),
            (11, "entirely new material that shares nothing with the corpus text"),
        ],
        ["doc_id", "text"],
    )
    out2 = curation.admit_shard(
        s2,
        index_sigs=out1["sigs_delta"].localCheckpoint(),
        index_hashes=out1["hashes_delta"].localCheckpoint(),
        index_windows=widx,
        span_k=5,
    )
    adm = {r.doc_id: r.text for r in out2["admitted"].collect()}
    assert adm[10] == "fresh intro fresh outro"
    assert "entirely new material" in adm[11]
    # the delta reflects FINAL text: stripped passage's windows absent
    w2 = {r.whash for r in out2["windows_delta"].collect()}
    w1 = {r.whash for r in widx.collect()}
    assert not (w1 & w2)


def test_corpus_diff_statuses(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "kept the same"), (2, "gets edited"), (3, "will be dropped")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "kept  THE   same"), (2, "was edited"), (4, "brand new doc")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    # normalized compare: case/whitespace changes are 'unchanged'
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_release_corpus_end_to_end(spark, tmp_path):
    from cdc_pipeline_with_kafka_spark.operators.curation import release_corpus

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    out_path = str(tmp_path / "release")
    released = release_corpus(
        docs, out_path,
        near_dup_pairs=pairs,
        split_weights={"train": 90, "val": 5, "test": 5},
        min_quality=0.3,
    )
    rows = released.collect()
    assert 0 < len(rows) < docs.count()
    splits = {r.split for r in rows}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # near-dup clusters never straddle splits
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    # split directories exist for pruning
    import os

    assert any(d.startswith("split=") for d in os.listdir(out_path))
    # deterministic: a second release to a new path is identical
    out2 = str(tmp_path / "release2")
    released2 = release_corpus(
        docs, out2, near_dup_pairs=pairs,
        split_weights={"train": 90, "val": 5, "test": 5}, min_quality=0.3,
    )
    a = {(r.doc_id, r.split) for r in rows}
    b = {(r.doc_id, r.split) for r in released2.collect()}
    assert a == b


def test_admit_shard_gopher_stage(spark):
    """gopher_filter wires the Rae et al. page-quality rules into
    admission: failing docs reject with reason 'gopher' before any
    dedup work touches them."""
    good = ("the quick brown fox and that dog have fun with everyone "
            "of them today because words keep flowing nicely onward " * 5)
    shard = spark.createDataFrame(
        [(1, good), (2, "tiny the of")], ["doc_id", "text"]
    )
    out = curation.admit_shard(shard, gopher_filter=True)
    assert {r.doc_id for r in out["admitted"].collect()} == {1}
    reasons = {r.doc_id: r.reason for r in out["rejected"].collect()}
    assert reasons == {2: "gopher"}


def test_sample_token_budget_properties(spark):
    """Token-budget carve: kept set is the maximal md5-ordered prefix
    within budget, per stratum; deterministic across runs; a grown
    corpus only displaces the boundary (kept ∩ old-kept is a prefix)."""
    import pytest as _pytest

    rows = [(i, "en" if i % 2 == 0 else "de", 100 + (i % 7) * 50) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tok"])
    out = curation.sample_token_budget(
        df, budget_tokens=800, token_col="n_tok", key_col="doc_id",
        salt="t:", stratum_col="lang",
    )
    got = {(r.doc_id, r.lang, r._cum_tokens) for r in out.collect()}
    # model: sort per stratum by (md5, id), take while cum <= budget
    import hashlib

    want = set()
    for lang in ("en", "de"):
        ranked = sorted(
            (r for r in rows if r[1] == lang),
            key=lambda r: (hashlib.md5(f"t:{r[0]}".encode()).hexdigest(), r[0]),
        )
        cum = 0
        for did, lg, nt in ranked:
            cum += nt
            if cum > 800:
                break
            want.add((did, lg, cum))
    assert got == want
    # per-stratum totals respect the budget
    totals = {}
    for _, lg, c in got:
        totals[lg] = max(totals.get(lg, 0), c)
    assert all(v <= 800 for v in totals.values())
    # deterministic rerun
    got2 = {(r.doc_id, r.lang, r._cum_tokens) for r in out.collect()}
    assert got2 == got
    with _pytest.raises(ValueError):
        curation.sample_token_budget(df, -1, "n_tok", "doc_id")


def test_sample_token_budget_null_key(spark):
    """A NULL key hashes to the NULL bucket which sorts FIRST (Spark
    asc null ordering): it is carved like any other row, not silently
    dropped, and with an ample budget everything survives."""
    rows = [(None, 10)] + [(i, 10) for i in range(9)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    kept_all = curation.sample_token_budget(
        df, budget_tokens=1000, token_col="n_tok", key_col="doc_id"
    )
    assert kept_all.count() == 10
    # NULL sorts first, so any budget >= 10 admits the null-key row
    kept_one = curation.sample_token_budget(
        df, budget_tokens=10, token_col="n_tok", key_col="doc_id"
    ).collect()
    assert len(kept_one) == 1 and kept_one[0].doc_id is None


def test_curriculum_order_phases_and_determinism(spark):
    """Phase assignment by explicit cuts and by exact rank-terciles;
    within-phase order is a deterministic salt-keyed permutation; the
    manifest plan is a pure map — zero exchanges, no global window."""
    import pytest as _pytest

    rows = [(i, (i * 37) % 100 + 1) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, score int")

    # explicit cuts: the 100 TB path (thresholds from the recipe)
    out = curation.curriculum_order(
        df, "score", cuts=[25.0, 60.0], salt="e0:"
    )
    got = {r.doc_id: r.phase for r in out.collect()}
    for i, s in rows:
        want = 0 if s <= 25 else (1 if s <= 60 else 2)
        assert got[i] == want
    # descending: best data (phase high scores) first
    desc = curation.curriculum_order(
        df, "score", cuts=[25.0, 60.0], salt="e0:", ascending=False
    )
    gd = {r.doc_id: r.phase for r in desc.collect()}
    assert all(gd[i] == 2 - got[i] for i, _ in rows)

    # exact rank-tercile cuts: ceil(k*n/3)-th smallest score values
    auto = curation.curriculum_order(df, "score", n_phases=3, salt="e0:")
    scores = sorted(s for _, s in rows)
    n = len(scores)
    c1, c2 = scores[-(-n // 3) - 1], scores[-(-2 * n // 3) - 1]
    ga = {r.doc_id: r.phase for r in auto.collect()}
    for i, s in rows:
        assert ga[i] == (0 if s <= c1 else (1 if s <= c2 else 2))
    # phases are roughly balanced and the order key is salt-stable
    k1 = {r.doc_id: r._order_key for r in auto.collect()}
    k2 = {r.doc_id: r._order_key for r in curation.curriculum_order(
        df, "score", n_phases=3, salt="e0:").collect()}
    assert k1 == k2
    k3 = {r.doc_id: r._order_key for r in curation.curriculum_order(
        df, "score", n_phases=3, salt="e1:").collect()}
    assert k1 != k3  # fresh epoch order under a new salt

    # manifest plan: pure map stage (cuts are literals), no exchange
    from cdc_pipeline_with_kafka_spark import plans
    assert plans.exchange_count(out) == 0

    with _pytest.raises(ValueError):
        curation.curriculum_order(df, "score", cuts=[60.0, 25.0])
    with _pytest.raises(ValueError):
        curation.curriculum_order(df, "score", n_phases=0)


def test_curriculum_manifest_write_roundtrip(spark, tmp_path):
    """The curriculum manifest composes with the lake writer exactly as
    documented: partition dirs by phase, in-file sort by _order_key —
    reading phase dirs in order and files in sorted-key order streams
    the full training order with no global sort ever materialized."""
    from cdc_pipeline_with_kafka_spark.sources.bucketing import write_partitioned

    rows = [(i, (i * 41) % 97) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, score int")
    manifest = curation.curriculum_order(df, "score", cuts=[30.0, 65.0], salt="ep0:")
    path = str(tmp_path / "manifest")
    write_partitioned(manifest, path, ["phase"], sort_cols=["_order_key"])

    back = spark.read.parquet(path)
    assert back.count() == 60
    # training order = phase asc, _order_key asc; per phase the keys on
    # disk are exactly the sorted within-phase permutation
    for ph in (0, 1, 2):
        want = sorted(
            r._order_key for r in manifest.filter(F.col("phase") == ph).collect()
        )
        got = [r._order_key
               for r in spark.read.parquet(f"{path}/phase={ph}")
               .orderBy("_order_key").collect()]
        assert got == want and len(got) > 0
    # phase dirs prune: reading one phase scans one directory
    one = back.filter("phase = 2")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_plan_epoch_mixture_water_filling(spark):
    """Water-filling epoch planner: high-weight sources cap at
    max_epochs first, the remainder shares λ proportionally, the
    budget is exhausted up to floor slack, and the degenerate regimes
    (budget ≥ all caps, budget 0, weight 0) behave."""
    import pytest as _pytest

    rows = [("a", 10_000, 8), ("b", 20_000, 4), ("c", 30_000, 1),
            ("d", 5_000, 1)]
    df = spark.createDataFrame(rows, "source string, n_tokens long, w long")

    out = {r.source: r for r in curation.plan_epoch_mixture(
        df, budget_tokens=120_000, weight_col="w").collect()}
    # 'a' (w=8) must cap at 4 epochs; 'c'/'d' (w=1) share λ equally
    assert out["a"].capped and out["a"].epochs_ppm == 4_000_000
    assert out["c"].epochs_ppm == out["d"].epochs_ppm
    assert not out["c"].capped
    # uncapped epochs are proportional to weight (same λ, floor-div)
    if not out["b"].capped:
        assert abs(out["b"].epochs_ppm - 4 * out["c"].epochs_ppm) <= 4
    # budget exhausted to floor slack, never exceeded
    total = sum(r.alloc_tokens for r in out.values())
    assert total <= 120_000
    assert total >= 120_000 - len(rows) - sum(t for _, t, _ in rows) // 10**6 - 4
    # allocation math is self-consistent
    for r in out.values():
        assert r.alloc_tokens == (r.n_tokens * r.epochs_ppm) // 1_000_000

    # budget covers every source at max epochs → all capped
    big = {r.source: r for r in curation.plan_epoch_mixture(
        df, budget_tokens=10_000_000, weight_col="w").collect()}
    assert all(r.capped and r.epochs_ppm == 4_000_000 for r in big.values())

    # zero budget → zero everywhere
    zero = curation.plan_epoch_mixture(df, 0, weight_col="w").collect()
    assert all(r.epochs_ppm == 0 and r.alloc_tokens == 0 for r in zero)

    # zero-weight sources get nothing and never cap
    wz = spark.createDataFrame(
        [("a", 1_000, 1), ("z", 1_000, 0)], "source string, n_tokens long, w long"
    )
    got = {r.source: r for r in curation.plan_epoch_mixture(
        wz, 2_000, weight_col="w").collect()}
    assert got["z"].epochs_ppm == 0 and not got["z"].capped
    assert got["a"].alloc_tokens > 0

    with _pytest.raises(ValueError):
        curation.plan_epoch_mixture(df, -1)


def test_release_corpus_curriculum_manifest(spark, tmp_path):
    """release_corpus(curriculum_score_col=...) writes the
    quality-annealed layout: split/phase directory tree, phases cut at
    the score terciles, and within-phase order pinned by the salt."""
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "release")
    back = curation.release_corpus(
        docs, out,
        min_quality=None,
        curriculum_score_col="n_chars",
        shuffle_salt="rc:",
    )
    assert back.count() == docs.count()
    assert {"split", "phase", "_order_key"} <= set(back.columns)
    # directory tree: split=*/phase=* (partition pruning layout)
    splits = [d for d in os.listdir(out) if d.startswith("split=")]
    assert splits
    phases = [d for d in os.listdir(os.path.join(out, splits[0]))
              if d.startswith("phase=")]
    assert len(phases) >= 2
    # phases respect the score cuts: max score in phase 0 ≤ min in 2
    p0max = back.filter("phase = 0").agg(F.max("n_chars")).collect()[0][0]
    p2min = back.filter("phase = 2").agg(F.min("n_chars")).collect()[0][0]
    assert p0max <= p2min
    # same salt → identical manifest on a rerun
    out2 = str(tmp_path / "release2")
    again = curation.release_corpus(
        docs, out2, min_quality=None,
        curriculum_score_col="n_chars", shuffle_salt="rc:",
    )
    a = sorted((r.doc_id, r.split, r.phase, r._order_key) for r in back.collect())
    b = sorted((r.doc_id, r.split, r.phase, r._order_key) for r in again.collect())
    assert a == b


def test_materialize_epoch_plan_rows(spark):
    """plan → rows: floor(e) full copies per doc + a deterministic
    fractional carve, token totals within one-doc slack of the
    allocation, reproducible."""
    a = spark.createDataFrame(
        [(i, 100) for i in range(10)], "doc_id long, n_tok long"
    )
    b = spark.createDataFrame(
        [(100 + i, 200) for i in range(5)], "doc_id long, n_tok long"
    )
    parts = {"a": a, "b": b}
    srcs = spark.createDataFrame(
        [("a", 1000, 4), ("b", 1000, 1)], "source string, n_tokens long, w long"
    )
    plan = curation.plan_epoch_mixture(srcs, budget_tokens=5500, weight_col="w")
    out = curation.materialize_epoch_plan(parts, plan, "n_tok", salt="m:")
    rows = out.collect()
    pr = {r.source: r for r in plan.collect()}
    for name, df in parts.items():
        e = pr[name].epochs_ppm
        n_full = e // 1_000_000
        got_tokens = sum(r.n_tok for r in rows if r.source == name)
        # every doc appears exactly n_full times with epoch_idx < n_full
        full_counts = {}
        for r in rows:
            if r.source == name and r.epoch_idx < n_full:
                full_counts[r.doc_id] = full_counts.get(r.doc_id, 0) + 1
        if n_full:
            assert set(full_counts.values()) == {n_full}
            assert len(full_counts) == df.count()
        # token total within one max-doc of the planned allocation
        assert got_tokens <= pr[name].alloc_tokens
        assert pr[name].alloc_tokens - got_tokens <= 200
    # reproducible
    again = curation.materialize_epoch_plan(parts, plan, "n_tok", salt="m:")
    assert sorted((r.source, r.doc_id, r.epoch_idx) for r in again.collect()) == \
           sorted((r.source, r.doc_id, r.epoch_idx) for r in rows)
    # unknown source in parts → loud failure
    import pytest as _pytest
    with _pytest.raises(ValueError):
        curation.materialize_epoch_plan({"zz": a}, plan, "n_tok")


def test_materialize_epoch_plan_fused_carve_matches_per_source(spark):
    """The fused multi-source fractional carve emits exactly the rows
    the per-source `sample_token_budget` composition would: same carve
    membership, same epoch_idx, per source and overall."""
    parts = {
        name: spark.createDataFrame(
            [(base + i, 50 + (i * 37) % 300) for i in range(40)],
            "doc_id long, n_tok long",
        )
        for name, base in (("alpha", 0), ("beta", 1000), ("gamma", 2000))
    }
    # the plan's n_tokens must be each source's true total so the
    # fractional budgets are meaningful
    totals = {
        n: df.agg(F.sum("n_tok")).collect()[0][0] for n, df in parts.items()
    }
    srcs = spark.createDataFrame(
        [(n, totals[n], w) for n, w in (("alpha", 3), ("beta", 1), ("gamma", 5))],
        "source string, n_tokens long, w long",
    )
    plan = curation.plan_epoch_mixture(srcs, budget_tokens=9000, weight_col="w")
    pr = {r.source: r for r in plan.collect()}
    # the fused path must actually engage: ≥ 2 sources with a
    # fractional remainder under this plan
    fracs = [
        n for n, r in pr.items()
        if int(r.alloc_tokens) - (r.epochs_ppm // 1_000_000) * int(r.n_tokens) > 0
    ]
    assert len(fracs) >= 2, f"fixture must exercise the fused carve, got {fracs}"

    fused = curation.materialize_epoch_plan(parts, plan, "n_tok", salt="fz:")

    # reference: the pre-fusion per-source composition
    ref_rows = []
    for name, df in sorted(parts.items()):
        r = pr[name]
        n_full = r.epochs_ppm // 1_000_000
        tagged = df.withColumn("source", F.lit(name))
        if n_full > 0:
            for row in tagged.collect():
                for e in range(n_full):
                    ref_rows.append((row.source, row.doc_id, e, row.n_tok))
        frac = int(r.alloc_tokens) - n_full * int(r.n_tokens)
        if frac > 0:
            carve = curation.sample_token_budget(
                tagged, frac, "n_tok", "doc_id", salt=f"fz:{name}:e{n_full}:"
            ).drop("_cum_tokens")
            for row in carve.collect():
                ref_rows.append((row.source, row.doc_id, n_full, row.n_tok))
    got = sorted(
        (r.source, r.doc_id, r.epoch_idx, r.n_tok) for r in fused.collect()
    )
    assert got == sorted(ref_rows)


def test_release_manifest_data_card(spark, tmp_path):
    """release_corpus writes a _MANIFEST.json data card whose per-split
    counts/checksums match corpus_manifest on the released data; the
    checksum is order-independent and flips when content changes."""
    import json
    import os

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "rel")
    back = curation.release_corpus(docs, out, min_quality=None)
    card = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sum(sp["n_docs"] for sp in card["splits"]) == docs.count()
    live = curation.corpus_manifest(back)
    assert card["splits"] == [
        {**sp} for sp in live
    ] or [  # json round-trips ints fine; compare field-by-field
        (sp["split"], sp["n_docs"], sp["content_checksum"]) for sp in card["splits"]
    ] == [(sp["split"], sp["n_docs"], sp["content_checksum"]) for sp in live]
    # order-independence: manifest over a reshuffled frame is identical
    reordered = curation.corpus_manifest(back.orderBy(F.rand(7)))
    assert [
        (sp["split"], sp["content_checksum"]) for sp in reordered
    ] == [(sp["split"], sp["content_checksum"]) for sp in live]
    # content sensitivity: editing one doc's text changes its split's checksum
    mutated = back.withColumn(
        "text",
        F.when(F.col("doc_id") == back.select(F.min("doc_id")).collect()[0][0],
               F.concat(F.col("text"), F.lit(" tampered"))).otherwise(F.col("text")),
    )
    changed = curation.corpus_manifest(mutated)
    assert {sp["content_checksum"] for sp in changed} != {
        sp["content_checksum"] for sp in live
    }
    # empty frame: one zeroed total row, no NULL->int crash
    empty = curation.corpus_manifest(
        back.limit(0), split_col=None, token_col="n_chars"
    )
    assert empty == [
        {"n_docs": 0, "content_checksum": 0, "total_tokens": 0}
    ]


def test_temperature_weights_alpha_behavior(spark):
    """alpha=1 -> proportional ppm; alpha=0 -> uniform over non-empty
    sources; weights always sum to exactly scale_ppm; empty sources
    get 0; deterministic across calls."""
    rows = [("web", 800), ("books", 150), ("code", 50), ("empty", 0)]
    src = spark.createDataFrame(rows, ["source", "n_tokens"])

    prop = {r.source: r.weight_ppm
            for r in curation.temperature_weights(src, alpha=1.0).collect()}
    assert prop == {"web": 800_000, "books": 150_000, "code": 50_000, "empty": 0}

    unif = {r.source: r.weight_ppm
            for r in curation.temperature_weights(src, alpha=0.0).collect()}
    assert unif["empty"] == 0
    live = [v for k, v in unif.items() if k != "empty"]
    assert sum(unif.values()) == 1_000_000
    assert max(live) - min(live) <= 1  # uniform up to largest-remainder

    mid = {r.source: r.weight_ppm
           for r in curation.temperature_weights(src, alpha=0.3).collect()}
    assert sum(mid.values()) == 1_000_000
    # temperature compresses: tail up-sampled, head down-sampled
    assert mid["code"] > prop["code"] and mid["web"] < prop["web"]
    # order preserved: more tokens never means a smaller weight
    assert mid["web"] >= mid["books"] >= mid["code"] >= mid["empty"]

    again = {r.source: r.weight_ppm
             for r in curation.temperature_weights(src, alpha=0.3).collect()}
    assert again == mid

    import pytest as _pytest
    with _pytest.raises(ValueError):
        curation.temperature_weights(src, alpha=-0.1)
    with _pytest.raises(ValueError):
        curation.temperature_weights(src, scale_ppm=0)


def test_temperature_weights_compose_epoch_planner(spark):
    """The documented composition: alpha-weights feed plan_epoch_mixture
    as weight_col, producing a capped water-fill whose allocations
    follow the temperature ordering."""
    rows = [("web", 80_000), ("books", 15_000), ("code", 5_000)]
    src = spark.createDataFrame(rows, ["source", "n_tokens"])
    w = curation.temperature_weights(src, alpha=0.3)
    plan = curation.plan_epoch_mixture(
        w, budget_tokens=150_000, weight_col="epoch_weight"
    )
    got = {r.source: r for r in plan.collect()}
    assert sum(r.alloc_tokens for r in got.values()) <= 150_000
    # per-token priority follows the alpha weight: code (highest share
    # per token) reaches the epoch cap first, web never repeats much
    assert got["code"].epochs_ppm >= got["books"].epochs_ppm >= got["web"].epochs_ppm
    assert got["code"].capped and got["code"].epochs_ppm == 4_000_000
    # uncapped sources' allocation shares track their weight_ppm
    wppm = {r.source: r.weight_ppm for r in w.collect()}
    rem_alloc = 150_000 - got["code"].alloc_tokens
    rem_ppm = wppm["web"] + wppm["books"]
    for s in ("web", "books"):
        assert abs(
            got[s].alloc_tokens - rem_alloc * wppm[s] / rem_ppm
        ) < rem_alloc * 0.001


def test_pack_blocks_segments_tile_blocks_exactly(spark):
    """Block manifest invariants: per-doc segments partition the doc's
    tokens in order; every interior block is filled to exactly the
    budget; segment offsets/lengths tile each block with no overlap."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, 700 + (i * 97) % 900) for i in range(20)],
        "doc_id long, n_tokens long",
    )
    packed = curation.pack_sequential(
        docs, token_col="n_tokens", budget=1024, order_col="doc_id", shards=1
    )
    blocks = curation.pack_blocks(packed, token_col="n_tokens", budget=1024)
    rows = blocks.collect()
    # per-doc: segment lengths sum to the doc's tokens
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    tok = {r.doc_id: r.n_tokens for r in docs.collect()}
    for d, segs in per_doc.items():
        assert sum(s.seg_len for s in segs) == tok[d]
    # per-block: segments tile [0, budget) contiguously; interior
    # blocks are exactly full
    per_block = {}
    for r in rows:
        per_block.setdefault(r.block, []).append(r)
    last_block = max(per_block)
    for b, segs in per_block.items():
        segs = sorted(segs, key=lambda s: s.seg_offset)
        pos = 0
        for s in segs:
            assert s.seg_offset == pos
            pos += s.seg_len
        if b < last_block:
            assert pos == 1024


def test_training_batches_end_to_end_chain(spark):
    """The full training-schedule chain composes: epoch plan →
    materialized rows (integer epochs + fractional carve) → packed
    blocks → loader-side block manifest.  Every materialized token
    lands in exactly one block segment."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators import curation

    web = spark.createDataFrame(
        [(i, "web", 400 + (i * 37) % 300) for i in range(30)],
        "doc_id long, source string, n_tokens long",
    )
    code = spark.createDataFrame(
        [(100 + i, "code", 500 + (i * 53) % 200) for i in range(10)],
        "doc_id long, source string, n_tokens long",
    )
    sources = web.unionByName(code).groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens")
    )
    plan = curation.plan_epoch_mixture(sources, budget_tokens=30_000)
    rows = curation.materialize_epoch_plan(
        {"web": web, "code": code}, plan, token_col="n_tokens"
    )
    total_tokens = rows.agg(F.sum("n_tokens")).collect()[0][0]
    # pack the materialized rows (epoch_idx disambiguates repeats)
    packed = curation.pack_sequential(
        rows.withColumn(
            "pack_key",
            F.concat_ws(":", "source", F.col("epoch_idx").cast("string"),
                        F.col("doc_id").cast("string")),
        ),
        token_col="n_tokens", budget=2048, order_col="pack_key", shards=1,
    )
    blocks = curation.pack_blocks(packed, token_col="n_tokens", budget=2048)
    seg_total = blocks.agg(F.sum("seg_len")).collect()[0][0]
    assert seg_total == total_tokens
    # interior blocks full
    fills = {
        r.block: r.fill
        for r in blocks.groupBy("block").agg(F.sum("seg_len").alias("fill")).collect()
    }
    for b, fill in fills.items():
        if b < max(fills):
            assert fill == 2048


def test_cluster_topics_surfaces_distinctive_terms(spark):
    """Two clusters with distinct vocabularies share a stopword: each
    cluster's top term must be its own distinctive word (lift ≫ 1000)
    while the everywhere-word's lift stays ≈ 1000 and never tops."""
    docs = spark.createDataFrame(
        [
            (0, "the spark spark shuffle"),
            (1, "the spark shuffle shuffle"),
            (2, "the zebra zebra savanna"),
            (3, "the savanna zebra savanna"),
        ],
        "doc_id long, text string",
    )
    assigned = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1)], "vec_id long, centroid_id int"
    )
    rows = curation.cluster_topics(assigned, docs, k=2, min_count=2).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["centroid_id"], []).append(r)
    top0 = sorted(by_cluster[0], key=lambda r: r["rnk"])
    top1 = sorted(by_cluster[1], key=lambda r: r["rnk"])
    assert {top0[0]["term"], top0[1]["term"]} == {"spark", "shuffle"}
    assert {top1[0]["term"], top1[1]["term"]} == {"zebra", "savanna"}
    # distinctive terms: in-cluster freq 3/8 vs corpus 3/16 → lift 2000
    assert all(r["lift_milli"] == 2000 for r in top0 + top1)
    # the stopword never makes top-2, and its lift is exactly 1000
    full = curation.cluster_topics(assigned, docs, k=10, min_count=2).collect()
    the_rows = [r for r in full if r["term"] == "the"]
    assert the_rows and all(r["lift_milli"] == 1000 for r in the_rows)
    assert all(r["rnk"] > 2 for r in the_rows)


def test_cluster_topics_min_count_prunes_singletons(spark):
    docs = spark.createDataFrame(
        [(0, "aa aa bb"), (1, "aa aa cc")], "doc_id long, text string"
    )
    assigned = spark.createDataFrame([(0, 0), (1, 0)], "vec_id long, centroid_id int")
    terms = {
        r["term"]
        for r in curation.cluster_topics(assigned, docs, k=10, min_count=2).collect()
    }
    assert terms == {"aa"}  # bb/cc appear once → pruned


def test_vocab_report_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "a a b c"), (1, "a b d"), (2, "")], "doc_id long, text string"
    )
    row = curation.vocab_report(docs, top_k_coverage=2).first()
    # tokens: a×3 b×2 c×1 d×1 → 7 total, 4 distinct, 2 hapax
    assert row["n_tokens"] == 7 and row["n_terms"] == 4
    assert row["hapax_terms"] == 2
    # top-2 = a(3)+b(2) = 5/7 → 714285 ppm (exact integral div)
    assert row["top_coverage_ppm"] == 5_000_000 // 7


def test_authority_weighted_release_end_to_end(spark, tmp_path):
    """The reason PageRank joined the toolkit: a source-authority
    prior steering curation, end-to-end.  A planted citation graph
    ranks three sources (6/2/1 in-links), authority_weights attaches
    the prior to every doc, per-source token budgets split
    PROPORTIONALLY to authority, sample_token_budget carves each
    stratum token-exactly, and release_corpus ships exactly the
    carved docs — low-authority sources are down-sampled in exact
    proportion to their rank."""
    import os

    from cdc_pipeline_with_kafka_spark.operators import graph as G

    edges = (
        [(f, 1) for f in range(10, 16)]   # host 1: 6 citing sources
        + [(20, 2), (21, 2)]              # host 2: 2
        + [(30, 3)]                       # host 3: 1
    )
    ranks = G.pagerank(
        spark.createDataFrame(edges, "src long, dst long"), iters=6
    )
    def text(d):  # exactly 100 tokens, unique per doc (exact-dedup-safe)
        return " ".join(f"t{d}x{j}" for j in range(100))

    docs = spark.createDataFrame(
        [(h * 1000 + i, h, text(h * 1000 + i), 100)
         for h in (1, 2, 3) for i in range(40)],
        "doc_id long, host long, text string, n_tokens long",
    )
    authed = G.authority_weights(docs, ranks, "host").localCheckpoint()
    auth = {
        r["host"]: r["authority_micro"]
        for r in authed.select("host", "authority_micro").distinct().collect()
    }
    assert auth[1] > auth[2] > auth[3] > 0  # prior follows the graph
    # proportional token budgets from the (tiny) rank table
    total_budget = 6_000
    tot = sum(auth.values())
    budgets = {h: (total_budget * a) // tot for h, a in auth.items()}
    parts = [
        curation.sample_token_budget(
            authed.filter(F.col("host") == h), budgets[h], "n_tokens", "doc_id"
        )
        for h in sorted(budgets)
    ]
    kept = parts[0]
    for p in parts[1:]:
        kept = kept.unionByName(p)
    kept = kept.localCheckpoint()
    per = {
        r["host"]: r["t"]
        for r in kept.groupBy("host").agg(F.sum("n_tokens").alias("t")).collect()
    }
    # token-EXACT: uniform 100-token docs with spare supply mean each
    # source keeps exactly floor(budget/100) docs' worth of tokens
    for h in (1, 2, 3):
        assert per[h] == (budgets[h] // 100) * 100, (h, budgets[h], per[h])
    assert per[1] > per[2] > per[3] > 0  # down-sampling follows authority
    # release: exactly the carved docs land, split-partitioned
    out = str(tmp_path / "rel")
    released = curation.release_corpus(
        kept.select("doc_id", "text"), out,
        split_weights={"train": 90, "test": 10}, min_quality=None,
    )
    got = {r["doc_id"] for r in released.collect()}
    assert got == {r["doc_id"] for r in kept.collect()}
    assert any(d.startswith("split=") for d in os.listdir(out))
    back = spark.read.option("basePath", out).parquet(out)
    assert back.count() == len(got)


def test_weighted_sample_k_contract_and_python_replay(spark):
    """The A-ES sample is deterministic, exact-k per stratum, weight-
    sensitive (a 1e6-weight row beats 1-weight rows), w<=0 raises, and
    the selected ids replay bit-identically in pure Python (md5 hex →
    u → round(-ln(u)*1e9) → integer priority)."""
    import hashlib
    import math

    from cdc_pipeline_with_kafka_spark.operators import curation

    rows = [(i, "s" if i % 2 == 0 else "t", 1) for i in range(200)]
    rows.append((999, "s", 1_000_000))
    df = spark.createDataFrame(rows, "doc_id long, stratum string, w long")

    out = curation.weighted_sample_k(df, 5, "w", "doc_id", salt="x:",
                                     stratum_col="stratum")
    got = {(r["stratum"], r["doc_id"]) for r in out.collect()}
    # exact-k per stratum, deterministic across runs
    assert sum(1 for s, _ in got if s == "s") == 5
    assert sum(1 for s, _ in got if s == "t") == 5
    again = {(r["stratum"], r["doc_id"]) for r in
             curation.weighted_sample_k(df, 5, "w", "doc_id", salt="x:",
                                        stratum_col="stratum").collect()}
    assert got == again
    # the heavy row wins its stratum's sample
    assert ("s", 999) in got

    # pure-Python replay of the exact integer contract
    def pri(doc_id, w, salt="x:"):
        h = int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:13], 16)
        u = (h + 1) / float(1 << 52)
        m_nano = int(round(-math.log(u) * 1e9))
        return (m_nano * 1_000_000) // w, doc_id

    for stratum in ("s", "t"):
        members = [(d, w) for d, s, w in rows if s == stratum]
        expect = {d for _, d in sorted(pri(d, w) for d, w in members)[:5]}
        assert {d for s, d in got if s == stratum} == expect

    # k > stratum size keeps everything
    allrows = curation.weighted_sample_k(df, 10_000, "w", "doc_id")
    assert allrows.count() == 201

    import pytest as _pytest
    bad = spark.createDataFrame([(1, 0)], "doc_id long, w long")
    with _pytest.raises(Exception):
        curation.weighted_sample_k(bad, 1, "w", "doc_id").collect()
    with _pytest.raises(ValueError):
        curation.weighted_sample_k(df, 0, "w", "doc_id")


def test_frequent_itemsets_apriori_exact_vs_bruteforce(spark):
    """A-priori levels vs a pure-Python lattice enumeration: exact
    counts at every k, planted frequent triple found, support_ppm
    integer-exact, pruning depth invisible in the result."""
    import itertools
    import random
    from collections import Counter

    from cdc_pipeline_with_kafka_spark.operators.curation import (
        frequent_itemsets,
    )

    rng = random.Random(5)
    rows = []
    for b in range(120):
        rows += [(b, i) for i in rng.sample(range(12), rng.randint(1, 6))]
        if rng.random() < 0.4:
            rows += [(b, i) for i in (20, 21, 22)]
    df = spark.createDataFrame(rows, "b int, i int")
    baskets: dict[int, set] = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    nb = len(baskets)
    for ms, mk in ((5, 3), (10, 4)):
        got = sorted(
            tuple(r) for r in frequent_itemsets(df, "b", "i", ms, mk).collect()
        )
        cnt: Counter = Counter()
        for s in baskets.values():
            for k in range(1, mk + 1):
                cnt.update(itertools.combinations(sorted(s), k))
        exp = sorted(
            ("|".join(map(str, comb)), len(comb), c, c * 1_000_000 // nb)
            for comb, c in cnt.items()
            if c >= ms
        )
        assert got == exp, (ms, mk)
    assert ("20|21|22", 3) in {
        (r["itemset"], r["k"])
        for r in frequent_itemsets(df, "b", "i", 20, 3).collect()
    }


def test_frequent_itemsets_guards_and_early_stop(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import (
        frequent_itemsets,
    )
    import pytest as _pt

    df = spark.createDataFrame([(1, 1), (1, 2), (2, 1)], "b int, i int")
    with _pt.raises(ValueError, match="min_support"):
        frequent_itemsets(df, "b", "i", 0)
    with _pt.raises(ValueError, match="max_k"):
        frequent_itemsets(df, "b", "i", 1, max_k=0)
    # no pair reaches support 2 → early stop after level 1; asking for
    # max_k=5 must not loop over dead levels
    out = frequent_itemsets(df, "b", "i", 2, max_k=5).collect()
    assert {(r["itemset"], r["k"], r["cnt"]) for r in out} == {("1", 1, 2)}


def test_association_rules_exact_vs_bruteforce(spark):
    """A-priori phase 2: every one-item-consequent rule from the
    frequent sets with exact integer confidence/lift vs a pure-Python
    lattice replay; planted co-buy pair surfaces at confidence 1.0;
    the confidence filter and guards."""
    import itertools
    import random
    from collections import Counter

    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators.curation import (
        association_rules,
    )

    rng = random.Random(5)
    rows = []
    for b in range(100):
        rows += [(b, i) for i in rng.sample(range(10), rng.randint(1, 5))]
        if rng.random() < 0.5:
            rows += [(b, i) for i in (20, 21)]
    df = spark.createDataFrame(rows, "b int, i int")
    ms, mk = 5, 3
    got = sorted(
        tuple(r) for r in association_rules(df, "b", "i", ms, 0, mk).collect()
    )
    baskets: dict[int, set] = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    nb = len(baskets)
    cnt: Counter = Counter()
    for s in baskets.values():
        for k in range(1, mk + 1):
            cnt.update(itertools.combinations(sorted(s), k))
    freq = {c: n for c, n in cnt.items() if n >= ms}
    exp = sorted(
        (
            "|".join(map(str, (x for x in Z if x != c))),
            str(c),
            n,
            n * 1_000_000 // freq[tuple(x for x in Z if x != c)],
            (n * nb * 1_000_000)
            // (freq[tuple(x for x in Z if x != c)] * freq[(c,)]),
        )
        for Z, n in freq.items() if len(Z) >= 2
        for c in Z
    )
    assert got == exp
    hi = [g for g in got if g[0] == "20" and g[1] == "21"]
    assert hi and hi[0][3] == 1_000_000
    filtered = association_rules(df, "b", "i", ms, 900_000, mk).collect()
    assert all(r["confidence_ppm"] >= 900_000 for r in filtered)
    assert 0 < len(filtered) < len(got)
    with _pt.raises(ValueError, match="max_k"):
        association_rules(df, "b", "i", ms, 0, max_k=1)
    with _pt.raises(ValueError, match="min_confidence"):
        association_rules(df, "b", "i", ms, 2_000_000)


def test_association_rules_capped_basket_universe(spark):
    """With max_basket_items set, ALL rule metrics share the capped
    basket universe: 3 kept {x,y} baskets + 1 dropped mega-basket →
    lift(x→y) = 3·3·1e6 div (3·3) = exactly 1,000,000 (the uncapped-
    total bug reported 1,333,333: capped counts over an uncapped
    n_baskets)."""
    from cdc_pipeline_with_kafka_spark.operators.curation import (
        association_rules,
    )

    rows = [(b, i) for b in (1, 2, 3) for i in ("x", "y")]
    rows += [(4, i) for i in ("x", "y", "a", "b", "c")]  # 5 items: dropped
    df = spark.createDataFrame(rows, "b int, i string")
    got = {
        (r["antecedent"], r["consequent"]): r["lift_ppm"]
        for r in association_rules(
            df, "b", "i", min_support=2, max_basket_items=4
        ).collect()
    }
    assert got[("x", "y")] == 1_000_000
    assert got[("y", "x")] == 1_000_000
