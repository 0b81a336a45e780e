"""Lexical retrieval and hybrid rank fusion.

BM25 (Okapi, Robertson/Sparck Jones; the `+1` idf variant of
Lucene/BM25+ so weights stay positive) over an inverted postings
index built with one corpus scan, plus reciprocal-rank fusion
(Cormack, Clarke & Buettcher, SIGIR 2009) to combine lexical and
dense (ANN) rankings into one hybrid search.

The reference has no search tier; this belongs to the training-data
toolkit this engine adds on top of SURVEY.md §2 — retrieval-based
data selection, eval-set contamination triage ("which training docs
does this eval question retrieve?"), and hybrid near-dup review.

Determinism contract (what makes the driver gate value-exact):

- idf is computed ONCE on the driver from collected `(term, df)`
  rows — bounded by the QUERY vocabulary, not the corpus — and
  shipped as integer micro-nat literals (``round(1e6·ln)`` HALF_UP).
  The distributed side never calls ``ln``, so JVM-vs-libm ulp drift
  cannot leak into scores.
- each (query, doc, term) contribution is rounded to an integer
  micro-score BEFORE summation; summing longs is associative, so
  partition order cannot change a score by a bit.
- ranking ties break on ascending doc id.

Scale notes (100 TB): the postings build is one scan + one
aggregation (the unavoidable index cost — persist it; appending a
shard is appending its postings). Scoring is postings ⋈
broadcast(query weights) + a partial-aggregated sum + a per-query
window top-k (WindowGroupLimit) — the corpus is touched once and
never re-shuffled per query. The two driver collects are bounded by
construction: one 1-row corpus stat, one row per DISTINCT QUERY
TERM.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_IDF_SCALE = 1_000_000
_RRF_SCALE = 2_000_000_000  # 2 × 1e9: floor((2S + d) / 2d) = round(S/d)


def _terms(col, ngram: int = 1):
    """Whitespace tokenization, lowercased — the corpus-wide term
    convention shared with curation.tfidf_top_terms.  ngram > 1 emits
    space-joined word n-grams instead (sequence-aware terms: far more
    discriminative for quote/contamination matching on corpora whose
    unigram vocabulary is flat)."""
    toks = F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != F.lit("")
    )
    if ngram == 1:
        return toks
    from .textstats import _word_ngrams

    return _word_ngrams(toks, ngram)


def terms_py(text: str, ngram: int = 1) -> list[str]:
    """Pure-Python twin of _terms (oracle/replay side)."""
    import re

    toks = [t for t in re.split(r"\s+", (text or "").lower().strip()) if t]
    if ngram == 1:
        return toks
    if len(toks) < ngram:
        return []
    return [" ".join(toks[i : i + ngram]) for i in range(len(toks) - ngram + 1)]


def build_bm25_index(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """Inverted postings index: one row per (doc, term) with the
    in-doc term frequency and the doc length in tokens.

    Postings are keyed by ``term_hash`` = xxhash64(term), computed
    BEFORE the tf groupBy, so the aggregation shuffle and the
    persisted index carry an 8-byte long instead of the term string
    (strings roughly double index bytes and shuffle width at corpus
    vocab scale — SCALING.md §14).  Collision math: xxhash64 is a 2⁶⁴
    space, so expected colliding term pairs ≈ V²/2⁶⁵ — at V = 10⁹
    distinct terms (large web corpus incl. bigrams) that is ~0.03
    expected collisions corpus-wide, and a collision only merges two
    terms' postings (bounded local score perturbation), it cannot
    corrupt other terms.

    One scan → explode → hash → groupBy(doc, term_hash); the doc
    length rides on every posting row via a window over the doc id
    (no join back through a second scan — same rationale as
    tfidf_top_terms' df window). Persist the result as the index;
    admitting a shard means appending its postings (term stats are
    recomputed per query from the union, so the index needs no
    rebuild)."""
    tokens = docs.select(
        F.col(id_col), F.explode(_terms(F.col(text_col), ngram)).alias("term")
    )
    tf = (
        tokens.withColumn("term_hash", F.xxhash64("term"))
        .groupBy(id_col, "term_hash")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w_doc = Window.partitionBy(id_col)
    return tf.withColumn("dl", F.sum("tf").over(w_doc))


def build_bm25f_index(
    docs: DataFrame,
    fields: dict[str, int],
    *,
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """Field-weighted postings (BM25F with INTEGER field boosts — the
    reference's title-weighting idea, keyword-extraction parity F3,
    applied to retrieval): a term in a field with weight w counts as w
    occurrences, for tf AND doc length.

    Integer boosts keep every statistic integral, so the exactness
    contract survives — and make the semantics PROVABLE: boosting a
    field by w is identical to repeating its text w times, which the
    equivalence test pins against plain bm25_topk on the repeated
    concatenation (bag-of-terms statistics don't see token order).
    The output schema matches build_bm25_index (``term_hash``
    postings), so bm25_topk consumes it unchanged (weigh QUERY text
    normally — boosts are a document-side notion).

    ONE corpus scan: the fields stack as an array of (weight, tokens)
    structs exploded in place — not one scan per field (fields are
    few, but N scans of a 100 TB corpus is N× the dominant cost;
    plan-asserted single scan in tests)."""
    if not fields:
        raise ValueError("need at least one (field, weight)")
    if any(int(w) < 1 for w in fields.values()):
        raise ValueError("field weights must be positive integers")
    stacked = docs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(int(w)).alias("w"),
                        _terms(F.col(f), ngram).alias("toks"),
                    )
                    for f, w in fields.items()
                ]
            )
        ).alias("fw"),
    ).select(
        F.col(id_col),
        F.col("fw.w").alias("w"),
        F.explode("fw.toks").alias("term"),
    )
    merged = (
        stacked.withColumn("term_hash", F.xxhash64("term"))
        .groupBy(id_col, "term_hash")
        .agg(F.sum("w").alias("tf"))
    )
    return merged.withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))


def _idf_micro(n_docs: int, df: int) -> int:
    """round(1e6 · ln(1 + (N − df + 0.5)/(df + 0.5))) HALF_UP — the
    Lucene BM25 idf (always > 0). Driver-only; shipped as a literal."""
    x = _IDF_SCALE * math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def bm25_topk(
    docs: DataFrame | None,
    queries: DataFrame,
    *,
    index: DataFrame | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """Top-k documents per query by BM25.  `ngram` must match the
    index's term grain when a prebuilt index is passed.

    Returns (query_id, doc_id, score_micro, rnk) — score_micro is the
    sum of per-term integer micro-scores (exact long arithmetic after
    the one per-contribution rounding; see module docstring).

    Pass a persisted ``index`` (from build_bm25_index) to skip the
    corpus scan; otherwise it is built from ``docs``. The query set
    must be small (it is collected to compute pinned idf literals) —
    that is the nature of a query workload, not a corpus operator."""
    if index is None:
        if docs is None:
            raise ValueError("need docs or a prebuilt index")
        index = build_bm25_index(
            docs, text_col=text_col, id_col=id_col, ngram=ngram
        )

    stats = index.agg(
        F.count_distinct(F.col(id_col)).alias("n_docs"),
        F.sum("tf").alias("dl_total"),
    ).first()
    spark = queries.sparkSession
    if not stats["n_docs"]:  # empty corpus/index: nothing can match
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score_micro long, rnk int"
        )
    n_docs, dl_total = int(stats["n_docs"]), int(stats["dl_total"])
    avgdl = dl_total / n_docs if n_docs else 1.0

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_terms(F.col(query_text_col), ngram)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
        .collect()
    )
    vocab = sorted({r["term"] for r in qterms})
    if not vocab:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score_micro long, rnk int"
        )
    vocab_df = spark.createDataFrame([(t,) for t in vocab], "term string")
    # query terms hash through the SAME JVM xxhash64 the index build
    # used, so the two sides cannot disagree (one bounded collect —
    # query vocab only)
    qhash = {
        r["term"]: int(r["term_hash"])
        for r in vocab_df.withColumn("term_hash", F.xxhash64("term")).collect()
    }
    probe = spark.createDataFrame(
        [(h,) for h in sorted(set(qhash.values()))], "term_hash long"
    )
    dfs = {
        r["term_hash"]: int(r["df"])
        for r in index.join(F.broadcast(probe), "term_hash")
        .groupBy("term_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    weights = [
        (
            r["query_id"],
            qhash[r["term"]],
            int(r["qtf"]),
            _idf_micro(n_docs, dfs[qhash[r["term"]]]),
        )
        for r in qterms
        if qhash[r["term"]] in dfs  # terms absent from the corpus score nothing
    ]
    if not weights:
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score_micro long, rnk int"
        )
    w_df = spark.createDataFrame(
        weights, "query_id long, term_hash long, qtf long, idf_micro long"
    )

    # contribution — the exact double expression the Python twin
    # replays: ((qtf·idf_micro) · (tf·(k1+1))) / (tf + k1·((1−b) + b·(dl/avgdl)))
    tf_d = F.col("tf").cast("double")
    num = (F.col("qtf") * F.col("idf_micro")).cast("double") * (
        tf_d * F.lit(k1 + 1.0)
    )
    den = tf_d + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / F.lit(avgdl))
    )
    contrib = F.round(num / den, 0).cast("long")

    scores = (
        index.join(F.broadcast(w_df), "term_hash")
        .select("query_id", F.col(id_col).alias("doc_id"), contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "score_micro", "rnk")
    )


def bm25_scores_py(
    docs: list[tuple[int, str]],
    queries: list[tuple[int, str]],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    ngram: int = 1,
) -> list[tuple[int, int, int, int]]:
    """Pure-Python twin of bm25_topk (oracle/replay side): identical
    tokenization, identical IEEE double op order per contribution,
    identical HALF_UP micro rounding, identical tiebreaks. Returns
    sorted (query_id, doc_id, score_micro, rnk)."""
    toks = {d: terms_py(t, ngram) for d, t in docs}
    by_term: dict[str, list[tuple[int, int]]] = {}
    dl: dict[int, int] = {}
    dfc: dict[str, int] = {}
    for d, ts in toks.items():
        dl[d] = len(ts)
        seen: dict[str, int] = {}
        for t in ts:
            seen[t] = seen.get(t, 0) + 1
        for t, c in seen.items():
            by_term.setdefault(t, []).append((d, c))
            dfc[t] = dfc.get(t, 0) + 1
    n_docs = sum(1 for d in dl.values() if d > 0)
    dl_total = sum(dl.values())
    avgdl = dl_total / n_docs if n_docs else 1.0
    k1p1, omb = k1 + 1.0, 1.0 - b

    out: list[tuple[int, int, int, int]] = []
    for qid, qtext in queries:
        qtf: dict[str, int] = {}
        for t in terms_py(qtext, ngram):
            qtf[t] = qtf.get(t, 0) + 1
        scores: dict[int, int] = {}
        for t, qc in qtf.items():
            if t not in dfc:
                continue
            idf_m = _idf_micro(n_docs, dfc[t])
            for d, c in by_term[t]:
                num = float(qc * idf_m) * (float(c) * k1p1)
                den = float(c) + k1 * (omb + b * (float(dl[d]) / avgdl))
                cm = int(
                    Decimal(repr(num / den)).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP
                    )
                )
                scores[d] = scores.get(d, 0) + cm
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, d, s, i + 1) for i, (d, s) in enumerate(ranked))
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    k: int = 10,
    k_rrf: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of N rankings into one hybrid top-k.

    rrf(d) = Σ_lists round(1e9 / (k_rrf + rank_list(d))), the sum over
    the lists that ranked d. Contributions are EXACT integer
    arithmetic — ``(2·1e9 + r) div (2·r)`` is round-half-up of 1e9/r
    without any floating point — so fusion is engine-portable and
    partition-order-free. Ties break on ascending doc id; n_lists
    rides along so consumers can require corroboration.

    Inputs need (query_col, id_col, rank_col); a doc missing from a
    list simply contributes nothing (the standard RRF convention)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = []
    for r in rankings:
        parts.append(
            r.select(
                F.col(query_col).alias("query_id"),
                F.col(id_col).alias("doc_id"),
                F.expr(
                    f"CAST(({_RRF_SCALE} + ({rank_col} + {int(k_rrf)})) div "
                    f"(2 * ({rank_col} + {int(k_rrf)})) AS BIGINT)"
                ).alias("c"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    fused = out.groupBy("query_id", "doc_id").agg(
        F.sum("c").alias("rrf_micro"), F.count(F.lit(1)).alias("n_lists")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "rrf_micro", "n_lists", "rnk")
    )


def decontaminate_by_retrieval(
    docs: DataFrame,
    eval_df: DataFrame,
    *,
    k: int = 10,
    min_score_micro: int = 0,
    index: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "query_id",
    eval_text_col: str = "text",
    mode: str = "flag",
    ngram: int = 2,
) -> DataFrame:
    """Retrieval-based eval-set decontamination: every eval example is
    a BM25 query; training documents it retrieves (top-k, score ≥
    min_score_micro) are contamination suspects — the fuzzy companion
    to curation.decontaminate's exact n-gram tier (paraphrased or
    partially-quoted leakage that no exact n-gram catches still ranks
    high lexically).

    Terms default to BIGRAMS (ngram=2): contamination is sequential
    quote overlap, and word-pair terms stay discriminative even when
    the unigram vocabulary is flat — bag-of-unigram BM25 can miss a
    verbatim quote entirely on such corpora.

    mode='flag' returns docs + (is_contaminated, n_eval_hits);
    mode='drop' returns the surviving docs.  Scale shape: one
    bm25_topk call (postings ⋈ broadcast(eval-query weights)) and one
    broadcast anti/left join of the ≤ |eval|·k hit ids back onto the
    corpus — the corpus is scanned, never reshuffled."""
    if mode not in ("flag", "drop"):
        raise ValueError("mode must be 'flag' or 'drop'")
    hits = (
        bm25_topk(
            docs if index is None else None,
            eval_df,
            index=index,
            k=k,
            text_col=text_col,
            id_col=id_col,
            query_id_col=eval_id_col,
            query_text_col=eval_text_col,
            ngram=ngram,
        )
        .filter(F.col("score_micro") >= min_score_micro)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_eval_hits"))
        .withColumnRenamed("doc_id", id_col)
    )
    if mode == "drop":
        return docs.join(F.broadcast(hits.select(id_col)), id_col, "left_anti")
    out = docs.join(F.broadcast(hits), id_col, "left")
    return out.select(
        *docs.columns,
        F.coalesce(F.col("n_eval_hits"), F.lit(0)).cast("long").alias("n_eval_hits"),
        (F.coalesce(F.col("n_eval_hits"), F.lit(0)) > 0).alias("is_contaminated"),
    )


def rrf_contrib_py(rank: int, k_rrf: int = 60) -> int:
    """Pure-Python twin of one RRF contribution (exact integer)."""
    r = rank + k_rrf
    return (_RRF_SCALE + r) // (2 * r)
