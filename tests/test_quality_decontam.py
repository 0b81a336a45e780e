"""Repetition-quality filters (Gopher-style), benchmark
decontamination, and int8 embedding quantization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import curation, similarity, textstats

from .conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_hand_computed(spark):
    out = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_stats(
            _docs(
                spark,
                [
                    (1, "a b a b a b"),  # top bigram "a b" ×3 → covers all 6 chars
                    (2, "x y z"),  # no repetition: top bigram ×1 = 2/3 chars
                    (3, "hi"),  # single token: no n-grams at all
                ],
            )
        ).collect()
    }
    # doc 1: top = 3 occurrences × 2 chars / 6 chars = 1.0; no repeated 5-gram
    assert out[1]["top_ngram_ppm"] == 1_000_000
    assert out[1]["dup_ngram_ppm"] == 0
    assert out[1]["keep"] is False
    # doc 2: 2*1e6 // 3 = 666666
    assert out[2]["top_ngram_ppm"] == 666_666
    assert out[2]["keep"] is False
    # doc 3: no bigrams → 0/0 → 0 ppm, keep
    assert out[3]["top_ngram_ppm"] == 0
    assert out[3]["dup_ngram_ppm"] == 0
    assert out[3]["keep"] is True


def test_repetition_dup_ngram_counts_repeats(spark):
    # "p q r s t" appears twice (10 tokens), so both 5-gram copies count:
    # dup_chars = 2 × 5 = 10 of 10 chars → clamped 1e6 ppm
    df = _docs(spark, [(1, "p q r s t p q r s t")])
    row = textstats.repetition_stats(df).collect()[0]
    assert row["dup_ngram_ppm"] == 1_000_000


def test_decontaminate_flags_overlap_only(spark):
    bench = _docs(spark, [(0, "one two three four five")])
    corpus = _docs(
        spark,
        [
            (1, "zzz two three four five yyy"),  # shares 4-grams
            (2, "alpha beta gamma delta epsilon"),  # disjoint
            (3, "one two three"),  # only a 3-gram — below n=4
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in curation.ngram_decontaminate(corpus, bench, n=4).collect()}
    # doc 1 shares "two three four five" (and "two three four" is not 4 tokens
    # of bench? it is: bench grams: one-two-three-four, two-three-four-five)
    assert out[1]["contaminated"] is True
    assert out[1]["n_hits"] == 1  # only "two three four five" matches
    assert out[2]["n_hits"] == 0 and out[2]["contaminated"] is False
    assert out[3]["n_hits"] == 0  # doc too short for any 4-gram overlap


def test_quantize_int8_bounds_and_scale_invariance(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [3.0, 3.0, -3.0, 1.5])],
        "vec_id long, embedding array<double>",
    )
    rows = df.select(
        "vec_id", similarity.quantize_int8(F.col("embedding")).alias("q")
    ).collect()
    q = {r["vec_id"]: r["q"] for r in rows}
    # scale = 1.0/127 → [64, -127, 32, 0] (floor(63.5+0.5)=64, floor(31.75+.5)=32)
    assert q[1] == [64.0, -127.0, 32.0, 0.0]
    # max-magnitude element always maps to ±127
    assert q[2] == [127.0, 127.0, -127.0, 64.0]
    assert all(abs(v) <= 127 for vec in q.values() for v in vec)


def test_int8_topk_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10)
    int8 = similarity.cosine_topk_int8(emb, queries, k=10)

    def byq(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    e, i = byq(exact), byq(int8)
    recalls = [len(e[qid] & i[qid]) / len(e[qid]) for qid in e]
    assert min(recalls) >= 0.8, recalls


def test_repetition_stats_gate_matches_oracle_shape(spark):
    # the sf gate runs in test_oracle_parity; here just pin schema/dtypes
    df = textstats.repetition_stats(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds == {
        "doc_id": "bigint",
        "top_ngram_ppm": "bigint",
        "dup_ngram_ppm": "bigint",
        "keep": "boolean",
    }


def test_scrub_pii_counts_and_redaction(spark):
    df = _docs(
        spark,
        [
            (1, "mail me at jo.doe+x@mail.example.org or 12-345-678-9012"),
            (2, "server 10.0.0.1 and 192.168.1.255 up"),
            (3, "nothing sensitive here"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in textstats.scrub_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 0
    assert out[1]["scrubbed"] == "mail me at [REDACTED] or [REDACTED]"
    assert out[2]["n_ipv4"] == 2 and out[2]["has_pii"] is True
    assert out[2]["scrubbed"] == "server [REDACTED] and [REDACTED] up"
    assert out[3]["has_pii"] is False
    assert out[3]["scrubbed"] == "nothing sensitive here"


def test_breaking_word_stats_factored_matches_naive(spark):
    from cdc_pipeline_with_kafka_spark.operators import windows

    docs = spark.createDataFrame(
        [(0, "en", "s1", "hot hot news"), (1, "en", "s2", "cold take"),
         (2, "de", "s3", "heiss heiss heiss")],
        "doc_id long, lang string, source string, text string",
    )
    ev = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 2}0:00") for i in range(12)],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    naive = windows.breaking_word_stats(
        ev.join(docs, (F.col("event_id") % 3) == F.col("doc_id")).select(
            "ts", F.col("lang").alias("category"), "source", "text"
        ),
        "ts", "category", "text", "source", "10 minutes",
    ).select("window_start", "category", "max_word_cnt", "distinct_sources", "article_cnt")
    factored = windows.breaking_word_stats_factored(
        ev, docs, F.col("event_id") % 3, "ts", "lang", "text", "source", "10 minutes"
    ).select("window_start", "category", "max_word_cnt", "distinct_sources", "article_cnt")
    assert sorted(map(tuple, naive.collect())) == sorted(map(tuple, factored.collect()))


def test_minhash_incremental_equals_full_restricted(spark, tmp_path):
    from cdc_pipeline_with_kafka_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    new_ids = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 0).collect()}
    old = docs.filter(~F.col("doc_id").isin(list(new_ids)))
    new = docs.filter(F.col("doc_id").isin(list(new_ids)))

    # persist the corpus index, as a real ingest would
    idx_path = str(tmp_path / "minhash_index")
    dedup.minhash_signatures(old).selectExpr("id AS doc_id", "sig").write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    inc = dedup.minhash_lsh_pairs(new, threshold=0.5, index_sigs=index)
    full = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    full_touching_new = [
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    ]
    inc_rows = [(r["id_a"], r["id_b"], r["est_jaccard"]) for r in inc.collect()]
    assert sorted(inc_rows) == sorted(full_touching_new)
    assert len(inc_rows) > 0  # non-vacuous on this corpus


def test_contamination_flag_col_matches_batch_join(spark):
    from cdc_pipeline_with_kafka_spark.operators.textstats import _tokens, _word_ngrams

    bench = _docs(spark, [(0, "one two three four five"), (1, "alpha beta gamma delta")])
    corpus = _docs(
        spark,
        [(10, "x one two three four y"), (11, "clean text with no overlap at all"),
         (12, "beta gamma delta alpha"), (13, "alpha beta gamma delta")],
    )
    bench_grams = [
        r["gram"]
        for r in bench.select(
            F.explode(F.array_distinct(_word_ngrams(_tokens(F.col("text")), 4))).alias("gram")
        ).distinct().collect()
    ]
    col_flags = {
        r["doc_id"]: r["flag"]
        for r in corpus.select(
            "doc_id", curation.contamination_flag_col(F.col("text"), bench_grams, 4).alias("flag")
        ).collect()
    }
    join_flags = {
        r["doc_id"]: r["contaminated"]
        for r in curation.ngram_decontaminate(corpus, bench, n=4).collect()
    }
    assert col_flags == join_flags
    assert col_flags[10] is True and col_flags[11] is False and col_flags[13] is True
    # doc 12 permutes the words — no shared 4-gram
    assert col_flags[12] is False


def test_pii_and_contamination_compose_with_streaming(spark, tmp_path):
    """scrub_pii and contamination_flag_col are stateless projections:
    they run inside a readStream with no watermark or state store."""
    import json as _json

    src = tmp_path / "stream_src"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "call 12-345-678-9012 about one two three four"},
        {"doc_id": 2, "text": "perfectly clean text here"},
    ]
    with open(src / "part-0.json", "w") as fh:
        for r in rows:
            fh.write(_json.dumps(r) + "\n")
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(src))
    scrubbed = textstats.scrub_pii(stream).withColumn(
        "contaminated",
        curation.contamination_flag_col(F.col("scrubbed"), ["one two three four"], 4),
    )
    q = (
        scrubbed.writeStream.format("memory").queryName("pii_stream_test")
        .outputMode("append").start()
    )
    q.processAllAvailable(); q.stop()
    out = {r["doc_id"]: r.asDict() for r in spark.table("pii_stream_test").collect()}
    assert out[1]["n_phone"] == 1 and "[REDACTED]" in out[1]["scrubbed"]
    assert out[1]["contaminated"] is True
    assert out[2]["has_pii"] is False and out[2]["contaminated"] is False


def test_chunk_documents_windows_and_overlap(spark):
    # 100 tokens, 64-token chunks, 16 overlap → starts at 0 and 48
    text100 = " ".join(f"t{i}" for i in range(100))
    df = _docs(spark, [(1, text100), (2, "a b c"), (3, "   ")])
    out = curation.chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 2
    c0, c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert c0["n_tokens"] == 64 and c0["chunk_text"].startswith("t0 t1 ")
    assert c1["n_tokens"] == 52 and c1["chunk_text"].startswith("t48 ")
    # overlap region t48..t63 appears in both chunks
    assert "t63" in c0["chunk_text"] and "t63" in c1["chunk_text"]
    # short doc → single chunk; blank doc → no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_tokens"] == 3
    assert 3 not in by_doc


def test_hash_sample_k_exact_and_stable(spark):
    from .conftest import SF_SMOKE as _SF

    docs = spark.read.parquet(f"{_SF}/documents.parquet").select("doc_id", "lang")
    s1 = curation.hash_sample_k(docs, 5, "doc_id", salt="v1:", stratum_col="lang")
    counts = {r["lang"]: r["cnt"] for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(c == 5 for c in counts.values())
    # deterministic: same salt → same ids; growth-stability: removing
    # other docs cannot change which of the SURVIVING ids rank first
    ids1 = sorted(r["doc_id"] for r in s1.collect())
    ids2 = sorted(r["doc_id"] for r in curation.hash_sample_k(docs, 5, "doc_id", salt="v1:", stratum_col="lang").collect())
    assert ids1 == ids2
    shrunk = docs.filter((F.col("doc_id") % 2 == 0) | F.col("doc_id").isin(ids1))
    ids3 = {r["doc_id"] for r in curation.hash_sample_k(shrunk, 5, "doc_id", salt="v1:", stratum_col="lang").collect()}
    # every original sample member survives the shrink (its hash rank
    # can only improve when competitors are removed)
    assert set(ids1) <= ids3


def test_asof_join_matches_duckdb_asof(spark):
    """Value-level oracle without a registry slot: the union-and-carry
    asof_join must equal DuckDB's native ASOF JOIN on the same data."""
    import duckdb

    from cdc_pipeline_with_kafka_spark.operators.relational import asof_join

    # small deterministic frames: rates change per key over time
    left = spark.createDataFrame(
        [("a", 5, 100), ("a", 15, 101), ("a", 25, 102), ("b", 7, 200), ("b", 10, 201), ("c", 3, 300)],
        "k string, ts long, payload long",
    )
    right = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 10, 2.0), ("a", 25, 3.0), ("b", 10, 9.0)],
        "k string, rts long, rate double",
    )
    got = sorted(
        map(tuple, asof_join(left, right, ["k"], "ts", "rts", ["rate"]).collect())
    )
    con = duckdb.connect()
    con.register("l", left.toPandas()); con.register("r", right.toPandas())
    want = sorted(
        map(tuple, con.execute(
            "SELECT l.k, l.ts, l.payload, r.rate FROM l ASOF LEFT JOIN r"
            " ON l.k = r.k AND l.ts >= r.rts ORDER BY 1, 2"
        ).fetchall())
    )
    assert got == want
    # spot semantics: ts=25 sees the same-instant snapshot 3.0;
    # b@7 precedes any b snapshot -> NULL; c has no snapshots -> NULL
    d = {(r[0], r[1]): r[3] for r in got}
    assert d[("a", 25)] == 3.0 and d[("b", 7)] is None and d[("c", 3)] is None


def test_mean_pool_and_doc_embedding(spark):
    df = spark.createDataFrame(
        [(1, 0, [1.0, 2.0]), (1, 1, [3.0, 4.0]), (2, 0, [5.0, 6.0])],
        "doc_id long, chunk_idx int, embedding array<double>",
    )
    # the no-order path must WARN (nondeterministic fold order is
    # never silent); the ordered path must not
    with pytest.warns(RuntimeWarning, match="without order_col"):
        unordered = similarity.doc_embedding_from_chunks(df)
    out = {r["doc_id"]: r["embedding"] for r in unordered.collect()}
    assert out[1] == [2.0, 3.0]  # mean of (1,2) and (3,4)
    assert out[2] == [5.0, 6.0]  # single chunk is its own mean
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        ordered = similarity.doc_embedding_from_chunks(df, order_col="chunk_idx")
    # pooled doc embeddings feed straight into cosine_topk
    with pytest.warns(RuntimeWarning):
        pooled = similarity.doc_embedding_from_chunks(df).withColumnRenamed("doc_id", "vec_id")
    topk = similarity.cosine_topk(
        pooled, pooled.selectExpr("vec_id AS query_id", "embedding"), k=1
    )
    self_top = {r["query_id"]: r["vec_id"] for r in topk.collect()}
    assert self_top == {1: 1, 2: 2}


def test_ivf_preassigned_matches_direct(spark, tmp_path):
    from cdc_pipeline_with_kafka_spark.operators.similarity import (
        ivf_ann_topk, ivf_ann_topk_preassigned, ivf_assign, ivf_centroids,
    )
    from cdc_pipeline_with_kafka_spark.sources.bucketing import write_partitioned

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_centroids(emb, 8)
    direct = ivf_ann_topk(emb, queries, nlist=8, nprobe=2, k=10, centroids=cents)

    # persist the inverted file partitioned by centroid, query from disk
    idx = str(tmp_path / "ivf_index")
    write_partitioned(ivf_assign(emb, cents), idx, ["centroid_id"])
    assigned = spark.read.parquet(idx)
    from_disk = ivf_ann_topk_preassigned(assigned, queries, cents, nprobe=2, k=10)

    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, from_disk.collect()))


def test_simhash_incremental_equals_full_restricted(spark, tmp_path):
    from cdc_pipeline_with_kafka_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    new_ids = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 5 == 0).collect()}
    old = docs.filter(~F.col("doc_id").isin(list(new_ids)))
    new = docs.filter(F.col("doc_id").isin(list(new_ids)))

    idx_path = str(tmp_path / "simhash_index")
    dedup.simhash_fingerprints(old).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    inc = dedup.simhash_pairs(new, max_hamming=12, index_fps=index)
    full = dedup.simhash_pairs(docs, max_hamming=12)
    want = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in inc.collect())
    assert got == want
    assert len(got) > 0


def test_ivf_pq_index_disk_roundtrip(spark, tmp_path):
    """The IVF-PQ index written partitioned by centroid_id and read
    back answers queries identically to the in-memory index — the
    write-once / query-many lifecycle, with partition pruning on the
    probed centroid directories."""
    from cdc_pipeline_with_kafka_spark.operators import similarity
    from cdc_pipeline_with_kafka_spark.sources.bucketing import write_partitioned

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.train_ivf_codebook(emb, nlist=8, iters=5)
    books = similarity.train_pq_codebook(emb, m=8, ksub=16)
    index = similarity.ivf_pq_index(emb, cents, books)
    direct = similarity.ivf_pq_ann_topk(index, queries, cents, books, nprobe=3, k=10)

    path = str(tmp_path / "ivfpq_index")
    write_partitioned(index, path, ["centroid_id"])
    from_disk = similarity.ivf_pq_ann_topk(
        spark.read.parquet(path), queries, cents, books, nprobe=3, k=10
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, from_disk.collect()))


def test_gopher_rules_each_rule_fires(spark):
    """Gopher page-quality heuristics (Rae et al. 2021 A1.1): one
    fixture doc per rule, each failing exactly its targeted check."""
    good_words = ("the quick brown fox and that dog have fun with everyone "
                  "of them today because words keep flowing nicely onward " * 5)
    docs = [
        (1, good_words),                                   # passes everything
        (2, "the of and short"),                           # too few words
        (3, " ".join(["a"] * 60) + " the of"),             # mean word len < 3
        (4, good_words + " " + "#tag " * 30),              # symbol ratio > 0.1
        (5, "\n".join(["• " + good_words[:40] + " the of and that be"] * 10)),  # bullets
        (6, "\n".join([good_words[:50] + " the of and..."] * 10)),  # ellipsis lines
        (7, good_words + " " + " ".join(["12345"] * 60)),  # alpha frac < 0.8
        (8, " ".join(["zebra quokka wombat numbat"] * 20)),  # no required words
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.gopher_rules(df, min_words=20).collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].n_words < 20
    assert not out[3].keep and out[3].mean_word_len < 3.0
    assert not out[4].keep and out[4].symbol_word_ratio > 0.1
    assert not out[5].keep and out[5].bullet_line_frac > 0.9
    assert not out[6].keep and out[6].ellipsis_line_frac > 0.3
    assert not out[7].keep and out[7].alpha_word_frac < 0.8
    assert not out[8].keep and out[8].required_hits < 2


def test_curate_corpus_gopher_stage(spark):
    from cdc_pipeline_with_kafka_spark.operators.curation import curate_corpus

    good = ("the quick brown fox and that dog have fun with everyone "
            "of them today because words keep flowing nicely onward " * 5)
    docs = spark.createDataFrame(
        [(1, good), (2, "tiny doc the of")], ["doc_id", "text"]
    )
    out = curate_corpus(docs, min_quality=None, gopher_filter=True).collect()
    assert [r.doc_id for r in out] == [1]
    assert set(out[0].asDict()) == {"doc_id", "text"}  # stats columns dropped


def test_doc_embedding_order_pinned_fold(spark):
    """order_col sorts the collected chunks before the fold, making
    the pooled vector independent of input row order (float addition
    is order-dependent at the ulp level; collect_list order is not
    deterministic)."""
    rows = [(1, i, [float(i) * 1e-8 + 0.1, 1.0 / (i + 3)]) for i in range(6)]
    fwd = spark.createDataFrame(rows, "doc_id long, chunk_idx long, embedding array<double>")
    rev = spark.createDataFrame(list(reversed(rows)), "doc_id long, chunk_idx long, embedding array<double>")
    a = similarity.doc_embedding_from_chunks(fwd, order_col="chunk_idx").collect()[0]["embedding"]
    b = similarity.doc_embedding_from_chunks(rev, order_col="chunk_idx").collect()[0]["embedding"]
    assert a == b  # bit-identical, not merely close
    # and the mean itself is right
    import numpy as np

    want = np.mean([r[2] for r in rows], axis=0)
    assert np.allclose(a, want)


@pytest.mark.parametrize("cut_frac", ["zero", "one", "half", "all_but_one", "all"])
def test_incremental_equivalence_boundary_shards(spark, cut_frac):
    """incremental ≡ full restricted-to-shard must hold at the shard
    boundaries where incremental paths historically break: empty index
    (cold start), single-doc index, the half split the driver gate
    uses, single-doc shard, and empty shard (no-op ingest) — for BOTH
    MinHash-LSH and SimHash."""
    from cdc_pipeline_with_kafka_spark.operators import dedup

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "pack my box with five dozen liquor jugs before the night falls",
        "a stitch in time saves nine but only when the thread holds firm",
        "all that glitters is not gold yet the miners keep on digging deep",
    ]
    rows = []
    for i in range(20):
        t = base[i % 4]
        if i >= 12:
            t = t + f" tail{i}"  # near-dup variants of the same bases
        rows.append((i, t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = len(rows)
    cut = {"zero": 0, "one": 1, "half": n // 2, "all_but_one": n - 1, "all": n}[cut_frac]
    old = docs.filter(F.col("doc_id") < cut)
    new = docs.filter(F.col("doc_id") >= cut)
    new_ids = set(range(cut, n))

    mh_index = dedup.minhash_signatures(old).selectExpr("id AS doc_id", "sig")
    inc = dedup.minhash_lsh_pairs(new, threshold=0.5, index_sigs=mh_index)
    full = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    want = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"]) for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    got = sorted((r["id_a"], r["id_b"], r["est_jaccard"]) for r in inc.collect())
    assert got == want
    if cut_frac in ("zero", "one", "half"):
        assert len(got) > 0  # non-vacuous where the shard holds dups

    sh_index = dedup.simhash_fingerprints(old)
    inc_s = dedup.simhash_pairs(new, max_hamming=12, index_fps=sh_index)
    full_s = dedup.simhash_pairs(docs, max_hamming=12)
    want_s = sorted(
        (r["id_a"], r["id_b"], r["hamming"]) for r in full_s.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    )
    got_s = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in inc_s.collect())
    assert got_s == want_s
    if cut_frac in ("zero", "one", "half"):
        assert len(got_s) > 0


_PY_SNIPPET = """import os

def load_config(path):
    with open(path) as fh:
        return fh.read()

class ConfigLoader:
    def __init__(self, base_dir):
        self.base_dir = base_dir
        self.cache_map = {}
"""

_C_SNIPPET = """#include <stdio.h>
int main(void) {
    int total_count = 0;
    for (int i = 0; i < 10; i++) {
        total_count += i;
    }
    printf("%d", total_count);
    return 0;
}
"""

_PROSE = (
    "The committee met on Tuesday to discuss the annual budget. "
    "Several members raised concerns about infrastructure spending, "
    "and the chair proposed a follow-up session for early next month. "
    "Minutes will be circulated to all departments."
)


def test_code_stats_detects_code_and_passes_prose(spark):
    df = spark.createDataFrame(
        [(0, _PY_SNIPPET), (1, _C_SNIPPET), (2, _PROSE)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textstats.code_stats(df).collect()}
    assert rows[0]["is_code"] and rows[1]["is_code"]
    assert not rows[2]["is_code"]
    # the python snippet: keywords def/class/import/return all present
    assert rows[0]["kw_hits"] >= 3
    # prose has zero code keywords and no indent lines
    assert rows[2]["kw_hits"] == 0 and rows[2]["indent_lines_ppm"] == 0
    # signals are exact integers: the C snippet has 9 non-blank lines,
    # 8 of which end in ; { } ( or ) — everything but the #include
    assert rows[1]["punct_lines_ppm"] == 8_000_000 // 9


def test_code_stats_empty_and_symbol_only(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "{};=<>|&()[]")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in textstats.code_stats(df).collect()}
    assert rows[0]["n_signals"] == 0 and not rows[0]["is_code"]
    assert rows[1]["symbol_chars_ppm"] == 1_000_000


def test_curate_corpus_code_routing(spark):
    """code_policy routes code docs out (or in) BEFORE prose-only
    filters: 'drop'+'only' partition the corpus, and a code doc that
    Gopher would reject survives intact under 'only'."""
    code_doc = (
        "def process_batch(rows):\n"
        "    total_count = 0\n"
        "    for row in rows:\n"
        "        total_count += row.size;\n"
        "    return total_count;\n"
    )
    prose = (
        "The committee reviewed the annual report and agreed to have "
        "the budget circulated with all of the departments that were "
        "present for this meeting. " * 4
    )
    docs = spark.createDataFrame(
        [(0, code_doc), (1, prose), (2, prose + " Extra sentence here.")],
        "doc_id long, text string",
    )
    dropped = curation.curate_corpus(docs, min_quality=None, code_policy="drop")
    only = curation.curate_corpus(docs, min_quality=None, code_policy="only")
    assert {r["doc_id"] for r in dropped.collect()} == {1, 2}
    assert {r["doc_id"] for r in only.collect()} == {0}
    # the partition is exact: drop ∪ only = corpus
    assert dropped.count() + only.count() == docs.count()
    # under gopher_filter alone the code doc would die; routed 'only'
    # it survives with its text untouched
    gopher_kept = curation.curate_corpus(
        docs, min_quality=None, gopher_filter=True
    )
    assert gopher_kept.filter(F.col("doc_id") == 0).count() == 0
    assert only.first()["text"] == code_doc


def test_pr_report_exact_counts_and_ppm(spark):
    """Hand-computed confusion counts and integer-ppm metrics; empty
    denominators report 0; one row per threshold."""
    from cdc_pipeline_with_kafka_spark.operators import classify

    df = spark.createDataFrame(
        [(10, True), (5, True), (-5, False), (3, False), (-10, True)],
        "score long, y boolean",
    )
    out = {
        r["threshold"]: r
        for r in classify.pr_report(df, "score", "y", [0, 4, 100]).collect()
    }
    r0 = out[0]  # flagged: 10,5,3 -> tp=2 fp=1; missed: -5(F), -10(T)
    assert (r0["tp"], r0["fp"], r0["fn"], r0["tn"]) == (2, 1, 1, 1)
    assert r0["precision_ppm"] == (2 * 1_000_000) // 3
    assert r0["recall_ppm"] == (2 * 1_000_000) // 3
    assert r0["f1_ppm"] == (4 * 1_000_000) // 6
    r4 = out[4]  # flagged: 10,5 -> both true
    assert (r4["tp"], r4["fp"], r4["fn"], r4["tn"]) == (2, 0, 1, 2)
    assert r4["precision_ppm"] == 1_000_000
    r100 = out[100]  # nothing flagged: precision denom 0 -> 0 ppm
    assert (r100["tp"], r100["precision_ppm"], r100["recall_ppm"]) == (0, 0, 0)
    assert len(out) == 3
    assert all(r["n_excluded"] == 0 for r in out.values())


def test_pr_report_null_rows_counted_not_dropped(spark):
    """A NULL score or NULL truth lands in NO confusion cell — it must
    surface in n_excluded so the matrix stays TOTAL
    (tp+fp+fn+tn+n_excluded == row count at every threshold), never
    silently shrink the ppm denominators."""
    from cdc_pipeline_with_kafka_spark.operators import classify

    df = spark.createDataFrame(
        [(10, True), (None, True), (5, None), (-5, False), (None, None)],
        "score long, y boolean",
    )
    out = {
        r["threshold"]: r
        for r in classify.pr_report(df, "score", "y", [0, 6, 11]).collect()
    }
    for t, r in out.items():
        cells = (r["tp"], r["fp"], r["fn"], r["tn"])
        assert r["n_excluded"] == 3, t
        assert sum(cells) + r["n_excluded"] == 5, t
    # valid rows classify as usual: at t=0 flagged {10} tp, missed {-5} tn
    assert (out[0]["tp"], out[0]["tn"]) == (1, 1)
    assert (out[6]["tp"], out[6]["fn"], out[6]["tn"]) == (1, 0, 1)
    assert (out[11]["tp"], out[11]["fn"], out[11]["tn"]) == (0, 1, 1)


def test_psi_report_drift_semantics(spark):
    """PSI ~ 0 for identical corpora; grows with drift; symmetric-ish
    ordering holds (more drift -> larger psi); replayable off-Spark
    via psi_core on the same bucket counts."""
    from cdc_pipeline_with_kafka_spark.operators import classify

    base = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(40)],
        "doc_id long, text string",
    )
    same = classify.psi_report(base, base, hash_buckets=64).first()
    assert same["psi_micro"] == 0
    drifted = spark.createDataFrame(
        [(i, "omega psi chi phi " * 5) for i in range(40)],
        "doc_id long, text string",
    )
    mild = spark.createDataFrame(
        [(i, ("alpha beta gamma delta " if i % 2 else "omega psi chi phi ") * 5)
         for i in range(40)],
        "doc_id long, text string",
    )
    big = classify.psi_report(base, drifted, hash_buckets=64).first()
    mid = classify.psi_report(base, mild, hash_buckets=64).first()
    assert big["psi_micro"] > mid["psi_micro"] > 0
    assert big["psi_micro"] > 250_000  # disjoint vocab = strong drift


def test_pii_column_report_finds_exposed_columns(spark):
    """Per (string column x category) row-match counts + exact ppm;
    non-string columns skipped; one-scan plan."""
    import re

    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import textstats

    df = spark.createDataFrame(
        [
            (1, "mail me at a@b.com", "clean"),
            (2, "call 010-1234-5678-9999 x", "also x@y.co"),
            (3, "ip is 10.0.0.1", None),
            (4, "nothing here", "nor here"),
        ],
        "id long, text string, note string",
    )
    out = {
        (r["column"], r["category"]): r
        for r in textstats.pii_column_report(df).collect()
    }
    assert set(c for c, _ in out) == {"text", "note"}  # id skipped
    assert out[("text", "email")]["n_matching_rows"] == 1
    assert out[("text", "email")]["match_ppm"] == 250_000
    assert out[("text", "ipv4")]["n_matching_rows"] == 1
    assert out[("note", "email")]["n_matching_rows"] == 1
    assert out[("note", "phone")]["n_matching_rows"] == 0
    # one scan over parquet input
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plans.formatted_plan(textstats.pii_column_report(docs))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_normalize_unicode_folds_confusables_for_dedup(spark):
    """NFC folds composed/decomposed encodings to one byte sequence;
    zero-width chars and soft hyphens strip; None passes through;
    the transform is idempotent (THE dedup-key property)."""
    from cdc_pipeline_with_kafka_spark.operators import dedup, textstats

    composed = "caf\u00e9 latte"          # \u00e9 as one composed codepoint
    decomposed = "cafe\u0301 latte"        # e + combining acute
    assert composed != decomposed          # non-vacuous NFC check
    zw = "caf\u00e9\u200b latte"           # zero-width space inside
    soft = "caf\u00e9 lat\u00adte"         # soft hyphen
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, zw), (4, soft), (5, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in textstats.normalize_unicode(df).collect()}
    assert out[1] == out[2] == out[3] == out[4] == composed
    assert out[5] is None
    # idempotent
    twice = {
        r["doc_id"]: r["text"]
        for r in textstats.normalize_unicode(
            textstats.normalize_unicode(df)
        ).collect()
    }
    assert twice == out
    # and exact dedup now sees them as one group
    survivors = dedup.dedup_exact(textstats.normalize_unicode(df).filter("text IS NOT NULL"))
    assert survivors.count() == 1
