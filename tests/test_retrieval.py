"""BM25 lexical retrieval + reciprocal-rank fusion."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark import plans
from cdc_pipeline_with_kafka_spark.operators import retrieval as R

from .conftest import SF_SMOKE


def _queries_df(spark):
    # query text = first 8 tokens of docs 0/1/2 — self-retrieval shape
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 8)
        ).alias("text"),
    )


def _docs_py():
    return duckdb.sql(
        f"SELECT doc_id, coalesce(text,'') FROM "
        f"'{SF_SMOKE}/documents.parquet' ORDER BY doc_id"
    ).fetchall()


def test_bm25_matches_pure_python_twin(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = _docs_py()
    queries = [(d, " ".join(R.terms_py(t)[:8])) for d, t in rows if d < 3]
    for ngram in (1, 2):  # unigram terms and the bigram (quote) grain
        got = sorted(
            (r["query_id"], r["doc_id"], r["score_micro"], r["rnk"])
            for r in R.bm25_topk(
                docs, _queries_df(spark), k=10, ngram=ngram
            ).collect()
        )
        want = sorted(R.bm25_scores_py(rows, queries, k=10, ngram=ngram))
        assert got == want, f"ngram={ngram}"


def test_bm25_prebuilt_index_equals_direct(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx = R.build_bm25_index(docs).localCheckpoint()
    qs = _queries_df(spark)
    direct = sorted(map(tuple, R.bm25_topk(docs, qs, k=5).collect()))
    via_idx = sorted(map(tuple, R.bm25_topk(None, qs, index=idx, k=5).collect()))
    assert direct == via_idx and len(direct) == 15


def test_bm25_rare_term_outweighs_common(spark):
    docs = spark.createDataFrame(
        [
            (0, "zebra apple apple"),
            (1, "apple apple apple"),
            (2, "apple pear plum"),
            (3, "apple kiwi fig"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame([(0, "zebra apple")], "query_id long, text string")
    top = R.bm25_topk(docs, qs, k=4).orderBy("rnk").collect()
    # doc 0 holds the corpus's only 'zebra' — idf dominates
    assert top[0]["doc_id"] == 0
    # every hit contains at least one query term
    assert {r["doc_id"] for r in top} <= {0, 1, 2, 3}


def test_bm25_query_terms_absent_from_corpus(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")], "doc_id long, text string"
    )
    qs = spark.createDataFrame(
        [(0, "nosuchterm"), (1, "")], "query_id long, text string"
    )
    assert R.bm25_topk(docs, qs, k=3).count() == 0


def test_bm25_scoring_path_broadcasts_weights(spark):
    """Scoring = postings ⋈ broadcast(query weights): the corpus side
    must never SMJ-shuffle for the join (the groupBy shuffles are the
    designed aggregations)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = R.bm25_topk(docs, _queries_df(spark), k=5)
    assert plans.has_broadcast_join(df)


def test_rrf_exact_contributions(spark):
    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id long, doc_id long, rnk int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "query_id long, doc_id long, rnk int"
    )
    got = {
        (r["doc_id"]): (r["rrf_micro"], r["n_lists"], r["rnk"])
        for r in R.rrf_fuse([a, b], k=3).collect()
    }
    c1, c2 = R.rrf_contrib_py(1), R.rrf_contrib_py(2)
    # doc 11 is in both lists (rank 2 + rank 1) and must fuse on top
    assert got[11] == (c1 + c2, 2, 1)
    assert got[10] == (c1, 1, 2)  # tie c1 vs c1 → lower doc_id first
    assert got[12] == (c2, 1, 3)
    assert c1 == round(1e9 / 61) and c2 == round(1e9 / 62)


def test_rrf_hybrid_over_real_tables(spark):
    """Hybrid search: BM25 over documents fused with dense cosine
    over the aligned embeddings — every fused row keeps provenance
    (n_lists) and ranks are deterministic."""
    from cdc_pipeline_with_kafka_spark.operators import similarity

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    lex = R.bm25_topk(docs, _queries_df(spark), k=10)
    dense = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ), k=10,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rnk")
    fused = R.rrf_fuse([lex, dense], k=10).collect()
    assert len(fused) == 30  # 3 queries × top-10
    by_q: dict = {}
    for r in fused:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rnk"])
        # rank order must follow (rrf_micro desc, doc_id asc)
        keys = [(-r["rrf_micro"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)
        assert all(1 <= r["n_lists"] <= 2 for r in rows)


def test_bm25_incremental_postings_append_equals_full(spark):
    """The retrieval tier's incremental-admission contract: appending a
    new shard's postings (built from the shard alone) to a persisted
    index must score IDENTICALLY to rebuilding from the union — df,
    n_docs, and avgdl are recomputed per query from the index, and
    postings rows are per-doc independent, so the equivalence is exact.
    Boundary shards (empty index / empty shard) included."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    qs = _queries_df(spark)
    n = docs.count()
    for cutoff in (0, n // 2, n):
        old = R.build_bm25_index(docs.filter(F.col("doc_id") < cutoff))
        shard = R.build_bm25_index(docs.filter(F.col("doc_id") >= cutoff))
        merged = old.unionByName(shard)
        via_inc = sorted(map(tuple, R.bm25_topk(None, qs, index=merged, k=8).collect()))
        direct = sorted(map(tuple, R.bm25_topk(docs, qs, k=8).collect()))
        assert via_inc == direct, f"cutoff={cutoff}"


def test_bm25_empty_corpus_returns_empty(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    qs = spark.createDataFrame([(0, "anything")], "query_id long, text string")
    assert R.bm25_topk(docs, qs, k=3).count() == 0


def test_bm25_index_sink_batches_and_replay(spark, tmp_path):
    """Rolling search-index maintenance: two micro-batches of postings
    must score identically to one batch index over all docs, and
    replaying a batch (same batch_id) must leave the index — and every
    score — unchanged."""
    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    n = docs.count()
    path = str(tmp_path / "postings")
    sink = pipeline.make_bm25_index_sink(path)
    b0 = docs.filter(F.col("doc_id") < n // 2)
    b1 = docs.filter(F.col("doc_id") >= n // 2)
    sink(b0, 0)
    sink(b1, 1)
    qs = _queries_df(spark)
    idx = spark.read.option("basePath", path).parquet(path).drop("batch_id")
    got = sorted(map(tuple, R.bm25_topk(None, qs, index=idx, k=8).collect()))
    want = sorted(map(tuple, R.bm25_topk(docs, qs, k=8).collect()))
    assert got == want
    sink(b1, 1)  # crash replay: overwrite, not append
    idx2 = spark.read.option("basePath", path).parquet(path).drop("batch_id")
    again = sorted(map(tuple, R.bm25_topk(None, qs, index=idx2, k=8).collect()))
    assert again == want


def test_decontaminate_by_retrieval_flags_leaked_docs(spark):
    """An eval question quoting a training doc's head must flag that
    doc (top-k retrieval hit) even though paraphrase-level edits break
    exact n-gram matching; unrelated docs stay clean, and mode='drop'
    removes exactly the flagged set."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    # eval set: the first 6 tokens of docs 5 and 9, one token swapped
    # (paraphrase-ish) — lexical retrieval still ranks the source first
    ev = docs.filter(F.col("doc_id").isin(5, 9)).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ",
            F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 6),
            F.lit("reworded"),
        ).alias("text"),
    )
    flagged = R.decontaminate_by_retrieval(docs, ev, k=3)
    rows = {r["doc_id"]: r for r in flagged.collect()}
    assert rows[5]["is_contaminated"] and rows[9]["is_contaminated"]
    n_flagged = sum(1 for r in rows.values() if r["is_contaminated"])
    assert n_flagged <= 6  # at most |eval|*k
    kept = R.decontaminate_by_retrieval(docs, ev, k=3, mode="drop")
    assert kept.count() == docs.count() - n_flagged
    assert kept.filter(F.col("doc_id").isin(5, 9)).count() == 0


def test_bm25f_integer_boost_equals_repeated_text(spark):
    """The provable semantics: an integer field boost w is IDENTICAL
    to repeating the field's text w times — bag-of-terms statistics
    (tf, dl, df) cannot see order, so the scores match exactly."""
    docs = spark.createDataFrame(
        [
            (0, "spark engine", "rows and columns and tables"),
            (1, "column store", "the spark shuffle moves rows"),
            (2, "row cache", "spark spark spark everywhere"),
        ],
        "doc_id long, title string, body string",
    )
    qs = spark.createDataFrame(
        [(0, "spark rows"), (1, "column")], "query_id long, text string"
    )
    idx = R.build_bm25f_index(docs, {"title": 3, "body": 1})
    via_f = sorted(map(tuple, R.bm25_topk(None, qs, index=idx, k=5).collect()))
    repeated = docs.select(
        "doc_id",
        F.concat_ws(
            " ", "title", "title", "title", "body"
        ).alias("text"),
    )
    via_repeat = sorted(map(tuple, R.bm25_topk(repeated, qs, k=5).collect()))
    assert via_f == via_repeat and via_f


def test_bm25f_title_match_outranks_body_match(spark):
    """Equal raw term counts: the title holder must outrank the body
    holder under a title boost."""
    docs = spark.createDataFrame(
        [
            (0, "quantum widgets", "assorted filler text here today"),
            (1, "assorted filler", "quantum widgets text here today"),
        ],
        "doc_id long, title string, body string",
    )
    qs = spark.createDataFrame([(0, "quantum widgets")], "query_id long, text string")
    idx = R.build_bm25f_index(docs, {"title": 4, "body": 1})
    top = R.bm25_topk(None, qs, index=idx, k=2).orderBy("rnk").collect()
    assert top[0]["doc_id"] == 0 and top[1]["doc_id"] == 1
    assert top[0]["score_micro"] > top[1]["score_micro"]


def test_bm25_hashed_index_equals_string_index(spark):
    """The postings layout is hashed-term only (term_hash int64 —
    8-byte shuffle/index key, no term string) at both term grains;
    its rankings are pinned against the pure-Python twin by
    test_bm25_matches_pure_python_twin."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for ngram in (1, 2):
        hashed = R.build_bm25_index(docs, ngram=ngram)
        assert "term_hash" in hashed.columns and "term" not in hashed.columns


def test_bm25f_builds_index_in_one_corpus_scan(spark):
    """The stacked-field BM25F build scans the corpus ONCE — fields
    explode as (weight, tokens) structs from a single pass; one scan
    per field would be N× the dominant cost at 100 TB."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    idx = R.build_bm25f_index(docs, {"text": 1, "source": 3})
    import re

    plan = plans.formatted_plan(idx)
    # formatted mode prints each node in the tree AND a detail section
    # — count the numbered detail entries, one per physical node
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_bm25_topk_window_group_limit_is_partial(spark):
    """The per-query top-k must push a PARTIAL WindowGroupLimit below
    the shuffle — each map task keeps only k rows per query before
    exchanging, so a query matching half the corpus never funnels its
    full match set into one window task (the single-task-window defect
    class, pre-empted)."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    df = R.bm25_topk(docs, _queries_df(spark), k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
