"""Training-data curation operators: deterministic sampling, context-
length packing, and TF-IDF term ranking.

These sit between dedup/quality-filtering and the training job: pick a
reproducible subset, weight/describe terms, and lay documents out into
fixed-token-budget blocks.  All three are pure DataFrame/SQL plans
(oracle-checkable, whole-stage codegen, no Python in the loop).

100 TB shape:
- `hash_sample` is a stateless per-row filter — no shuffle, pushes to
  the scan, and is REPRODUCIBLE (same hash → same subset on any
  cluster size or run, unlike rand()-based sampling).
- `pack_sequential` is one window cumsum per stratum — a single
  shuffle by stratum, then streaming accumulation.  This is the
  standard concat-then-chunk packing used for LLM pretraining batches:
  documents are laid out in a deterministic order and cut into
  `budget`-token blocks; a document may span blocks (start/end block
  reported).
- `tfidf_top_terms` is one term-frequency aggregation with document
  frequency as a window over the tf rows — a single corpus scan, no
  self-referencing join branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def hash_bucket(key: Column, salt: str = "", buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): first 8 hex chars of
    md5(salt || key) as an integer, mod buckets.  Identical in DuckDB:
    ('0x' || substr(md5(...), 1, 8))::BIGINT % buckets."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets


def hash_sample(
    df: DataFrame,
    rate_pct: int,
    key_col: str,
    salt: str = "",
    stratum_col: str | None = None,
    stratum_rates: dict[str, int] | None = None,
) -> DataFrame:
    """Reproducible sampling: keep rows whose hash bucket < rate.

    `stratum_rates` overrides the rate per stratum value (e.g. keep
    80% of English, 100% of low-resource languages) — the standard
    language-balancing move in corpus curation."""
    bucket = hash_bucket(F.col(key_col), salt)
    if stratum_col is not None and stratum_rates:
        rate: Column = F.lit(rate_pct)
        for value, r in sorted(stratum_rates.items()):
            rate = F.when(F.col(stratum_col) == value, F.lit(r)).otherwise(rate)
    else:
        rate = F.lit(rate_pct)
    return df.filter(bucket < rate)


def pack_sequential(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
    stratum_col: str | None = None,
    shards: int = 32,
) -> DataFrame:
    """Concat-then-chunk packing: documents ordered by `order_col`
    (per stratum/shard) are concatenated and cut into `budget`-token
    blocks.

    Adds: `start_block` (block containing the doc's first token),
    `end_block` (block of its last token), `block_offset` (token offset
    inside start_block).  end_block > start_block ⇔ the doc spans a
    block boundary.

    Block numbering is PER PARTITION GROUP.  With `stratum_col`, the
    group is the stratum (strata bound the sort, so a per-stratum
    window is safe).  Without one, the rows are hash-sharded into
    `shards` buckets on `order_col` and packed independently per shard
    — an extra `pack_shard` output column makes (pack_shard, block) the
    global block key.  This keeps the default path off a
    single-partition global sort, which would serialize a 100 TB corpus
    through one task; pass shards=1 to force the old global numbering
    when the input is known small."""
    cols = list(df.columns)
    if stratum_col:
        parts: list = [stratum_col]
    else:
        if shards < 1:
            raise ValueError(f"shards must be >= 1, got {shards}")
        shard_expr = (
            F.lit(0)  # constant shard ⇒ plain global window, no fake hash
            if shards == 1
            else F.pmod(F.xxhash64(F.col(order_col)), F.lit(shards))
        )
        df = df.withColumn("pack_shard", shard_expr.cast("int"))
        cols = cols + ["pack_shard"]
        parts = [] if shards == 1 else ["pack_shard"]
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w)
    pre = (cum - F.col(token_col)).cast("bigint")
    return df.select(
        *cols,
        F.floor(pre / budget).cast("bigint").alias("start_block"),
        F.floor((cum - 1) / budget).cast("bigint").alias("end_block"),
        (pre % budget).alias("block_offset"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k terms per document by TF-IDF over the corpus.

    tf = in-doc term count; idf = ln((N + 1) / (df + 1)) + 1 (smoothed,
    sklearn-style); deterministic tiebreak (score desc, term asc).
    The corpus size N rides along as a broadcast 1-row aggregate —
    never a driver-side count() in the plan builder."""
    tokens = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term"),
    )
    tf = tokens.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency as a WINDOW over the tf rows (each (doc,term)
    # row counts once per term) — not a second aggregation joined back:
    # Spark does not reuse the exchange across self-referencing
    # branches, so the agg+join formulation re-runs the whole
    # scan→explode→tf pipeline per branch (measured: 14 exchanges → 4,
    # 3 parquet scans → 2).
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_term = Window.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "tfidf", "rnk")
    )


def vocab_report(
    docs: DataFrame,
    *,
    text_col: str = "text",
    top_k_coverage: int = 100,
) -> DataFrame:
    """One-row corpus vocabulary report — the statistics tokenizer
    design starts from:

    - n_tokens / n_terms: total and distinct whitespace terms;
    - hapax_terms: terms occurring exactly once (the OOV tail a BPE
      vocab must cover with merges);
    - top_coverage_ppm: fraction of all tokens covered by the
      `top_k_coverage` most frequent terms (count desc, term asc —
      deterministic), as exact integer ppm.

    Shape: one scan → one groupBy(term) (partial-agg; term-grain
    stats table) → a TakeOrderedAndProject for the top-k slice → two
    1-row aggregates.  All integers; the division is an integral
    `div` in 128-bit decimals, so the report is engine-exact."""
    terms = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_terms"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("hapax_terms"),
    )
    top = (
        counts.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(top_k_coverage)
        .agg(F.sum("cnt").alias("top_cnt"))
    )
    return totals.crossJoin(F.broadcast(top)).select(
        "n_tokens",
        "n_terms",
        "hapax_terms",
        F.expr(
            "CAST(CAST(coalesce(top_cnt, 0) AS DECIMAL(20,0)) * 1000000 div "
            "greatest(n_tokens, 1) AS BIGINT)"
        ).alias("top_coverage_ppm"),
    )


def cluster_topics(
    assigned: DataFrame,
    docs: DataFrame,
    *,
    k: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    assign_id_col: str = "vec_id",
    cluster_col: str = "centroid_id",
    text_col: str = "text",
) -> DataFrame:
    """Label k-means clusters with their top-k DISTINCTIVE terms —
    the corpus-exploration step after SemDeDup/k-means assignment
    ("what is cluster 7 about?").

    Distinctiveness = integer-exact lift of the term's in-cluster
    relative frequency over its corpus relative frequency:

        in_ppb    = cnt·1e9        div cluster_tokens
        corp_ppb  = term_total·1e9 div corpus_tokens
        lift_milli = in_ppb·1000   div max(corp_ppb, 1)

    (lift ≈ 1000 ⇒ the term is no more common in the cluster than in
    the corpus — stopwords self-suppress without a stopword list.)
    Every step is long arithmetic, so the score is engine-portable
    and partition-order-free — no floats anywhere.

    Shape at scale: one corpus scan → (cluster, term) counts; the
    enrichment windows and the rank run over the STATS table
    (≤ vocab × clusters rows), never the corpus. The corpus total
    rides along as a broadcast 1-row aggregate."""
    base = (
        assigned.select(F.col(assign_id_col).alias(id_col), cluster_col)
        .join(docs.select(id_col, text_col), id_col)
        .select(
            cluster_col,
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("term"),
        )
        .groupBy(cluster_col, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # r12: corpus_tokens used to be a SEPARATE 1-row aggregate of
    # `base` crossJoined back — but Spark/AQE does not reuse the
    # exchange between the two consumers (verified: 0 ReusedExchange),
    # so the whole corpus tokenize + (cluster, term) aggregation ran
    # TWICE.  The total now rides a third window over the SAME stats
    # table the other two enrichment windows already run on (≤ vocab ×
    # clusters rows — the docstring's bound; the corpus is still
    # scanned exactly once).
    enr = (
        base.withColumn(
            "cl_tok", F.sum("cnt").over(Window.partitionBy(cluster_col))
        )
        .withColumn("term_total", F.sum("cnt").over(Window.partitionBy("term")))
        .withColumn("corpus_tokens", F.sum("cnt").over(Window.partitionBy()))
    )
    # decimal(38,0) widening: at 100 TB a common term's count reaches
    # ~1e12, so cnt·1e9 overflows a bigint — the products run in
    # 128-bit decimals and `div` (exact integral divide) lands back in
    # bigint range (≤ 1e9).  The oracle mirrors with HUGEINT.
    scored = enr.select(
        cluster_col,
        "term",
        "cnt",
        F.expr(
            "((CAST(cnt AS DECIMAL(20,0)) * 1000000000 div cl_tok) * 1000) div "
            "greatest(CAST(term_total AS DECIMAL(20,0)) * 1000000000 div corpus_tokens, 1)"
        ).alias("lift_milli"),
    ).filter(F.col("cnt") >= min_count)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col("lift_milli").desc(), F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(cluster_col, "term", "cnt", "lift_milli", "rnk")
    )


def curate_corpus(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float | None = 0.5,
    repetition_ppm_max: int | None = None,
    benchmark: DataFrame | None = None,
    decontam_n: int = 4,
    near_dup_pairs: DataFrame | None = None,
    sample_rate_pct: int = 100,
    stratum_col: str | None = None,
    stratum_rates: dict[str, int] | None = None,
    pack_budget: int | None = None,
    token_col: str | None = None,
    salt: str = "",
    source_col: str | None = None,
    source_max_dup_rate: float | None = None,
    source_blocklist: list[str] | None = None,
    nb_model: tuple | None = None,
    nb_keep_label: str | None = None,
    nb_min_margin_micro: int = 0,
    span_dedup_k: int | None = None,
    c4_rules: bool = False,
    gopher_filter: bool = False,
    code_policy: str | None = None,
) -> DataFrame:
    """The end-to-end corpus curation flow, composed from the pieces:

      code routing (if code_policy: 'drop' removes code-shaped docs,
        'only' keeps nothing else — FIRST, because the prose-only
        C4/Gopher rules reject most source code, and a mixture wants
        code routed to its own pipeline, not silently filtered) →
      C4 line/page heuristics (if c4_rules) →
      Gopher page-quality rules (if gopher_filter) →
      domain filter (if source_* given) → quality filter →
      repetition filter (if repetition_ppm_max) →
      classifier filter (if nb_model given) →
      benchmark decontamination (if benchmark given) →
      exact dedup (lowest-id survivor) →
      near-dup canonical survivor (if pairs given) →
      passage-level span removal (if span_dedup_k given) →
      reproducible (stratified) sample → optional packing

    Each stage is the already-tested operator; this function pins the
    ORDER: domain/quality filters first (cheapest, prune everything
    after), then dedup, then sample — sampling BEFORE dedup would drop
    a cluster's canonical doc while keeping its duplicates alive.
    Span removal runs AFTER doc-level dedup (whole-dup docs should die
    as docs, not be hollowed out token by token) and BEFORE sampling
    (the rewrite must see every surviving copy of a passage to pick
    its canonical holder).  Everything stays lazy — one action executes
    the whole curation as a single Spark job graph (the NB stage's
    trainer, if given pre-trained model frames, adds none).
    """
    from . import dedup as dedup_ops
    from . import textstats

    out = docs
    if code_policy is not None:
        if code_policy not in ("drop", "only"):
            raise ValueError("code_policy must be 'drop', 'only', or None")
        from .textstats import code_stats

        cond = F.col("is_code") if code_policy == "only" else ~F.col("is_code")
        out = code_stats(out, text_col=text_col).filter(cond).drop(
            "punct_lines_ppm", "indent_lines_ppm", "symbol_chars_ppm",
            "kw_hits", "ident_tokens_ppm", "n_signals", "is_code",
        )
    if c4_rules:
        from .textstats import c4_clean

        out = c4_clean(out, text_col=text_col, id_col=id_col).filter(
            F.col("keep")
        ).drop(text_col).withColumnRenamed("cleaned_text", text_col).drop(
            "n_lines", "n_kept_lines", "keep"
        )
    if gopher_filter:
        from .textstats import gopher_rules

        out = gopher_rules(out, text_col=text_col, id_col=id_col).filter(
            F.col("keep")
        ).drop(
            "n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "required_hits", "keep",
        )
    if source_col is not None and (source_max_dup_rate is not None or source_blocklist):
        out = filter_by_source(
            out, source_col=source_col, text_col=text_col, id_col=id_col,
            max_dup_rate=source_max_dup_rate if source_max_dup_rate is not None else 1.0,
            blocklist=source_blocklist,
        )
    if min_quality is not None:
        out = out.filter(textstats.quality_score(F.col(text_col)) >= min_quality)
    if nb_model is not None:
        if nb_keep_label is None:
            raise ValueError("nb_keep_label required when nb_model is set")
        from .classify import nb_filter

        token_logp, class_stats = nb_model
        out = nb_filter(
            out, token_logp, class_stats, nb_keep_label,
            min_margin_micro=nb_min_margin_micro,
            text_col=text_col, id_col=id_col,
        )
    if repetition_ppm_max is not None:
        keep = textstats.repetition_stats(
            out, text_col=text_col, id_col=id_col,
            top_ppm_max=repetition_ppm_max, dup_ppm_max=repetition_ppm_max,
        ).filter(F.col("keep")).select(id_col)
        out = out.join(keep, id_col, "left_semi")
    if benchmark is not None:
        clean = ngram_decontaminate(
            out, benchmark, n=decontam_n, text_col=text_col, id_col=id_col
        ).filter(~F.col("contaminated")).select(id_col)
        out = out.join(clean, id_col, "left_semi")
    out = dedup_ops.dedup_exact(out, text_col=text_col, id_col=id_col)
    if near_dup_pairs is not None:
        out = dedup_ops.dedup_survivors(
            out, near_dup_pairs, id_col=id_col
        ).filter(F.col("is_canonical")).drop("cluster_id", "is_canonical")
    if span_dedup_k is not None:
        from .spans import remove_duplicated_spans

        out = remove_duplicated_spans(
            out, k=span_dedup_k, text_col=text_col, id_col=id_col,
            policy="keep_first",
        ).drop(text_col).withColumnRenamed("cleaned_text", text_col).drop(
            "n_removed_tokens", "n_spans"
        )
    if sample_rate_pct < 100 or stratum_rates:
        out = hash_sample(
            out, sample_rate_pct, id_col, salt=salt,
            stratum_col=stratum_col, stratum_rates=stratum_rates,
        )
    if pack_budget is not None:
        if token_col is None:
            raise ValueError("token_col required when pack_budget is set")
        out = pack_sequential(out, token_col, pack_budget, id_col, stratum_col)
    return out


def chunk_by_sentences(
    docs: DataFrame,
    budget_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-aware chunking: split on sentence boundaries
    ([.!?] + whitespace) and cut chunks at token-budget boundaries so
    a SENTENCE is never split across chunks — the chunking mode for
    embedding/RAG pipelines where mid-sentence cuts poison the chunk
    semantics (chunk_documents is the fixed-token-window alternative).

    Greedy accumulation with a HARD budget: sentences are appended to
    the current chunk while they fit; a sentence that would overflow
    starts a new chunk (the token counter resets at every chunk
    boundary).  A chunk exceeds the budget only when one sentence
    alone does (it becomes its own chunk rather than being split).

    Plan shape: the whole scan is ONE `F.aggregate` over the per-doc
    sentence array — a JVM-side fold, zero shuffles (the earlier
    window+groupBy formulation cost an exchange and could overrun the
    budget because its global cumsum never reset at boundaries).

    Output: (id, chunk_idx, chunk_text, n_tokens)."""
    sentences = F.filter(
        F.split(F.col(text_col), r"(?<=[.!?])\s+"), lambda s: F.trim(s) != ""
    )
    toks = F.transform(
        sentences,
        lambda s: F.size(F.filter(F.split(F.trim(s), r"\s+"), lambda t: t != F.lit(""))),
    )
    zipped = F.zip_with(
        sentences, toks, lambda s, t: F.struct(s.alias("sent"), t.alias("tok"))
    )
    zero = F.struct(
        F.lit(0).alias("used"),
        F.array().cast("array<struct<chunk_text:string,n_tokens:int>>").alias("chunks"),
    )

    def _merge(acc, x):
        start_new = (F.size(acc["chunks"]) == 0) | (
            (acc["used"] + x["tok"]) > F.lit(budget_tokens)
        )
        last = F.element_at(acc["chunks"], -1)
        appended = F.concat(
            acc["chunks"],
            F.array(F.struct(x["sent"].alias("chunk_text"), x["tok"].alias("n_tokens"))),
        )
        extended = F.concat(
            F.slice(acc["chunks"], 1, F.size(acc["chunks"]) - 1),
            F.array(
                F.struct(
                    F.concat_ws(" ", last["chunk_text"], x["sent"]).alias("chunk_text"),
                    (last["n_tokens"] + x["tok"]).cast("int").alias("n_tokens"),
                )
            ),
        )
        return F.struct(
            F.when(start_new, x["tok"]).otherwise(acc["used"] + x["tok"]).alias("used"),
            F.when(start_new, appended).otherwise(extended).alias("chunks"),
        )

    chunks = F.aggregate(zipped, zero, _merge, lambda acc: acc["chunks"])
    return docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        id_col,
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("_c.chunk_text").alias("chunk_text"),
        F.col("_c.n_tokens").alias("n_tokens"),
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row dataset card: doc count, token totals, exact-duplicate
    rate, quality and length summary — the numbers every corpus
    release publishes.  ONE scan, one aggregate: every metric is a
    column expression over the same projection (the dup rate rides the
    same pass as distinct-count of the normalized content hash)."""
    from . import dedup as dedup_ops
    from . import textstats

    base = docs.select(
        F.col(id_col),
        textstats.token_count(F.col(text_col)).alias("_tok"),
        F.length(F.col(text_col)).alias("_chars"),
        # integer micro-units: summing per-doc double qualities is
        # accumulation-order-dependent in the last ulp (the exact
        # float32/float64 failure class the sim gates hit in r2);
        # an integer sum is order-independent in every engine
        F.round(textstats.quality_score(F.col(text_col)) * 1_000_000)
        .cast("bigint").alias("_qmicro"),
        F.md5(dedup_ops.normalized_text(F.col(text_col))).alias("_ch"),
    )
    n = F.count(F.lit(1))
    return base.agg(
        n.cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("_tok"), F.lit(0)).cast("bigint").alias("total_tokens"),
        F.round(F.coalesce(F.sum("_tok"), F.lit(0)) / n, 2).alias("avg_tokens"),
        F.round(F.lit(1.0) - F.countDistinct("_ch") / n, 6).alias("exact_dup_rate"),
        F.round(F.coalesce(F.sum("_qmicro"), F.lit(0)) / n / 1_000_000, 4).alias(
            "avg_quality"
        ),
        F.round(F.percentile(F.col("_chars").cast("double"), F.lit(0.5)), 1).alias(
            "median_chars"
        ),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    weights: dict[str, int] | None = None,
    id_col: str = "doc_id",
    salt: str = "split:",
) -> DataFrame:
    """Assign train/val/test splits WITHOUT near-duplicate leakage:
    the split is hashed from the document's dedup CLUSTER id, so a
    near-dup pair can never straddle train and eval — the leakage mode
    plain per-doc hash splitting silently allows (a test doc's
    paraphrase in train inflates eval scores).

    `pairs` is any near-dup pair set (MinHash/SimHash/Jaccard); docs in
    no pair are singleton clusters and split by their own id.  Weights
    are integer percentages summing to 100 (default 96/2/2).  The
    assignment is the same md5-bucket filter as hash_sample —
    deterministic on any cluster size, stable across reruns, and
    appending new docs never moves an existing doc's split.

    Returns docs + (cluster_id, split)."""
    from . import dedup as dedup_ops

    weights = weights or {"train": 96, "val": 2, "test": 2}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    if pairs is not None:
        assigned = dedup_ops.dedup_survivors(
            docs, pairs, id_col=id_col
        ).drop("is_canonical")
    else:
        assigned = docs.withColumn("cluster_id", F.col(id_col))
    bucket = hash_bucket(F.col("cluster_id"), salt=salt)
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = (bucket >= lo) & (bucket < lo + pct)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += pct
    return assigned.withColumn("split", expr)


def admit_shard(
    shard: DataFrame,
    *,
    index_sigs: DataFrame | None = None,
    index_hashes: DataFrame | None = None,
    index_windows: DataFrame | None = None,
    span_k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float | None = None,
    gopher_filter: bool = False,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> dict[str, DataFrame]:
    """Admit a NEW shard (a day's crawl) against persisted corpus
    state — the incremental form of `curate_corpus` that never
    re-reads, re-hashes, or re-sketches the existing corpus:

      1. quality gate (optional),
      2. in-shard exact dedup (lowest id survives),
      3. corpus exact dedup: content_hash anti-join vs `index_hashes`,
      4. corpus near-dup: `minhash_lsh_pairs` of the shard against
         `index_sigs` — any shard doc banding with an INDEXED doc is
         rejected,
      5. in-shard near-dup: remaining new↔new pairs → connected
         components → canonical survivor,
      6. (if span_k set) passage strip: corpus-known spans removed
         from admitted docs via `spans.remove_corpus_spans` against
         `index_windows`; `windows_delta` (distinct window hashes of
         the admitted docs' FINAL text) comes back for the index
         append, so later shards strip passages this shard introduced.

    Returns four lazy DataFrames:
      - ``admitted``:     shard rows that enter the corpus,
      - ``rejected``:     (id, reason ∈ quality | gopher | exact_dup_shard |
                          exact_dup_corpus | near_dup_corpus |
                          near_dup_shard) — the audit trail,
      - ``sigs_delta``:   MinHash signatures of admitted docs — append
                          to the signature index,
      - ``hashes_delta``: content hashes of admitted docs — append to
                          the hash index.
    Appending the deltas IS the state update; the next shard admits
    against index ∪ delta.  Sequential admission keeps the earliest
    shard's doc as canonical (ids grow across shards), matching the
    batch pipeline's lowest-id rule.  Index sides join on KB-sized
    sketch rows only — admission cost is O(|shard|), independent of
    corpus size.  Pass index_sigs/index_hashes=None for the first
    shard (cold start)."""
    from ..util import spread
    from . import dedup as dedup_ops
    from . import textstats

    alive = spread(shard, id_col)
    rejected = []

    def _reject(ids: DataFrame, reason: str) -> None:
        rejected.append(
            ids.select(F.col(id_col), F.lit(reason).alias("reason"))
        )

    if min_quality is not None:
        bad = alive.filter(textstats.quality_score(F.col(text_col)) < min_quality)
        _reject(bad, "quality")
        alive = alive.filter(textstats.quality_score(F.col(text_col)) >= min_quality)
    if gopher_filter:
        from .textstats import gopher_rules

        flagged = gopher_rules(alive, text_col=text_col, id_col=id_col)
        _reject(flagged.filter(~F.col("keep")), "gopher")
        # filter + drop (the curate_corpus pattern) — no join in the
        # admission hot path
        alive = flagged.filter(F.col("keep")).drop(
            "n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "required_hits", "keep",
        )

    hashed = alive.withColumn(
        "_ch", F.md5(dedup_ops.normalized_text(F.col(text_col)))
    )
    w = Window.partitionBy("_ch").orderBy(F.col(id_col).asc())
    ranked = hashed.withColumn("_rn", F.row_number().over(w))
    _reject(ranked.filter(F.col("_rn") > 1), "exact_dup_shard")
    hashed = ranked.filter(F.col("_rn") == 1).drop("_rn")

    if index_hashes is not None:
        idx_h = index_hashes.select(F.col("content_hash").alias("_ch")).distinct()
        _reject(hashed.join(idx_h, "_ch", "left_semi"), "exact_dup_corpus")
        hashed = hashed.join(idx_h, "_ch", "left_anti")
    alive = hashed

    pairs = dedup_ops.minhash_lsh_pairs(
        alive.drop("_ch"), threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, text_col=text_col, id_col=id_col,
        index_sigs=index_sigs,
    )
    # eager localCheckpoint, not persist(): the pair graph is consumed
    # three times below, and in the streaming sink the index paths this
    # plan reads get appended right after — a persisted plan would be
    # uncached by that append and silently recompute against the new
    # index; checkpointing truncates the lineage instead
    pairs = pairs.localCheckpoint(eager=True)
    shard_ids = alive.select(F.col(id_col).alias("_sid"))
    # a pair touching a NON-shard id is a corpus near-dup for its shard
    # member(s); ids are globally unique across shards by contract
    corpus_pairs = (
        pairs.join(shard_ids, pairs.id_a == F.col("_sid"), "left_anti")
        .select(F.col("id_b").alias(id_col))
        .union(
            pairs.join(shard_ids, pairs.id_b == F.col("_sid"), "left_anti")
            .select(F.col("id_a").alias(id_col))
        )
        .distinct()
    )
    _reject(alive.join(corpus_pairs, id_col, "left_semi"), "near_dup_corpus")
    alive = alive.join(corpus_pairs, id_col, "left_anti")

    intra = (
        pairs.join(alive.select(F.col(id_col).alias("id_a")), "id_a", "left_semi")
        .join(alive.select(F.col(id_col).alias("id_b")), "id_b", "left_semi")
    )
    surv = dedup_ops.dedup_survivors(alive.select(id_col), intra, id_col=id_col)
    _reject(surv.filter(~F.col("is_canonical")), "near_dup_shard")
    alive = alive.join(
        surv.filter(F.col("is_canonical")).select(id_col), id_col, "left_semi"
    )

    admitted = alive.drop("_ch")
    # hashes_delta hashes the PRE-strip text (corpus identity), so it
    # is derived before any passage rewrite
    hashes_delta = alive.select(F.col("_ch").alias("content_hash"), F.col(id_col))
    out_extra = {}
    if span_k is not None:
        from .spans import build_window_index, remove_corpus_spans

        if index_windows is not None:
            admitted = (
                remove_corpus_spans(
                    admitted, index_windows, k=span_k,
                    text_col=text_col, id_col=id_col,
                )
                .drop(text_col)
                .withColumnRenamed("cleaned_text", text_col)
                .drop("n_removed_tokens", "n_spans")
            )
        out_extra["windows_delta"] = build_window_index(
            admitted, k=span_k, text_col=text_col, id_col=id_col
        )
    rej = rejected[0]
    for r in rejected[1:]:
        rej = rej.unionByName(r)
    return {
        "admitted": admitted,
        "rejected": rej,
        "sigs_delta": dedup_ops.minhash_signatures(
            admitted, num_hashes=num_hashes, shingle_n=shingle_n,
            text_col=text_col, id_col=id_col,
        ).withColumnRenamed("id", id_col),
        "hashes_delta": hashes_delta,
        **out_extra,
    }


def ngram_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the standard
    GPT-3/PaLM eval-leakage check): a corpus document is contaminated
    when it shares at least one distinct lowercase word ``n``-gram with
    any benchmark document.

    Returns one row per corpus doc: (id, n_hits = distinct benchmark
    n-grams present in the doc, contaminated flag).

    100 TB shape: the benchmark side is small by construction (eval
    sets are MBs) — its distinct gram set is broadcast, so the corpus
    pass is scan → explode → per-doc-distinct grams → broadcast
    hash semi-join → per-doc count, with no shuffle of corpus text and
    no all-pairs comparison.  The corpus-side distinct-per-doc happens
    BEFORE the join via array_distinct inside the row (no extra
    aggregation exchange).
    """
    from ..operators.textstats import _tokens, _word_ngrams
    from ..util import spread

    def doc_grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(_word_ngrams(_tokens(F.col(text_col)), n))).alias(
                "gram"
            ),
        )

    bench_grams = doc_grams(benchmark).select("gram").distinct()
    hits = (
        doc_grams(spread(corpus, id_col))
        .join(F.broadcast(bench_grams), "gram", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_flag_col(
    text_col: Column, bench_grams: list[str], n: int = 4
) -> Column:
    """Streaming-safe decontamination: TRUE when the text shares any
    word n-gram with ``bench_grams`` (the benchmark's distinct gram
    list, collected once — eval sets are MB-scale, so the list ships
    in the plan like a broadcast).

    Pure column expression (arrays_overlap over the per-row gram
    array), so it drops into `readStream` filters with no state and no
    shuffle — the per-row form of `ngram_decontaminate`, which remains
    the batch path for large benchmarks.
    """
    from ..operators.textstats import _tokens, _word_ngrams

    grams = _word_ngrams(_tokens(text_col), n)
    return F.arrays_overlap(
        F.array_distinct(grams), F.array(*[F.lit(g) for g in bench_grams])
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with overlap (the
    context-window chunking step before tokenization/training; distinct
    from pack_sequential, which concatenates docs INTO blocks).

    Chunk k starts at token k·(chunk_tokens − overlap); the last chunk
    starts at the first multiple that still covers the tail, so every
    token lands in ≥1 chunk and a document shorter than one window is
    a single chunk.  Empty documents produce no chunks.

    One Generate per doc (sequence + transform + posexplode) — all JVM
    expressions; no shuffle at all, so it composes with any downstream
    partitioning at 100 TB.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    from ..operators.textstats import _tokens

    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # K = number of EXTRA chunks beyond the first: ceil((n-chunk)/step)
    k_max = F.greatest(
        F.expr(f"CAST((size(_toks) - {chunk_tokens} + {step} - 1) DIV {step} AS INT)"),
        F.lit(0),
    )
    chunks = F.transform(
        F.sequence(F.lit(0), k_max),
        lambda k: F.concat_ws(" ", F.slice(F.col("_toks"), k * step + 1, chunk_tokens)),
    )
    return (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") > 0)
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
        .withColumn(
            "n_tokens",
            F.size(F.filter(F.split(F.col("chunk_text"), " "), lambda t: t != F.lit(""))),
        )
    )


def hash_sample_k(
    df: DataFrame,
    k: int,
    key_col: str,
    salt: str = "",
    stratum_col: str | None = None,
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows by
    md5(salt || key) within each stratum and keep the first k.

    The rate-based `hash_sample` keeps a PROPORTION (binomially
    distributed count); this keeps an exact COUNT — the eval-set /
    few-shot carving primitive, stable under corpus growth (a new doc
    enters the sample only by displacing the hash order boundary).

    One window shuffle per stratum; at 100 TB prefer rate-based
    pre-filtering (hash_sample at ~2k/N) before the exact-k window so
    the sort input is thousands of rows, not the corpus.
    """
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    parts = [F.col(stratum_col)] if stratum_col else [F.lit(1)]
    w = Window.partitionBy(*parts).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str,
    salt: str = "",
    stratum_col: str | None = None,
) -> DataFrame:
    """Exact-k WEIGHTED sample without replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): keep the k rows with the largest
    ``u^(1/w)`` where u is a deterministic hash-uniform — inclusion
    odds scale with the weight, no row appears twice, and the same
    (inputs, salt) reproduce the same subset on any engine.  The
    quality-weighted carve: `hash_sample_k` treats every doc equally;
    this is the "sample 10k docs ∝ quality score / token count /
    authority prior" primitive mixture builders actually need.

    Exactness contract (ONE rounding seam, integers after):
    u = (h+1)/2^52 with h = the first 13 md5 hex chars of
    (salt ‖ key) — 52 bits, EXACT in a double, and the division by a
    power of two is exact too; ``m_nano = round(−ln(u)·1e9)`` is the
    single float→int seam (round-half-away, identical on JVM and
    DuckDB; ln is the only libm call and its ≤1-ulp wobble moves
    m_nano only when −ln(u)·1e9 sits within ~1e-7 of a .5 boundary);
    priority = ``(m_nano · 1e6) div w`` — POSITIVE integer division,
    where truncation and floor coincide so Spark `div` ≡ DuckDB `//`.
    Ranking by u^(1/w) desc ⟺ by −ln(u)/w asc (monotone), so top-k =
    the k smallest priorities, ties broken by key.  Bound:
    m_nano ≤ 3.7e10, ·1e6 < 2^63 — no overflow.

    Weights must be positive integers — enforced inside the
    expression (raise_error, the pagerank contract) so a w ≤ 0 or
    NULL row fails the job loudly instead of silently winning every
    sample (u^(1/0⁺) → 1).

    Shape: one stratum-partitioned window sort over rows carrying an
    8-byte priority; at 100 TB pre-filter with rate-based
    `hash_sample` first exactly as `hash_sample_k` documents."""
    if k < 1:
        raise ValueError("k must be >= 1")
    wcol = F.col(weight_col).cast("long")
    guarded = F.when(wcol > 0, wcol).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_sample_k: weight_col must be a positive "
                      "integer, got "),
                F.coalesce(wcol.cast("string"), F.lit("NULL")),
            )
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
            1, 13,
        ),
        16, 10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 52))
    m_nano = F.round(-F.log(u) * F.lit(1e9)).cast("long")
    pri = F.expr("(CAST(_mn AS BIGINT) * 1000000) div _wg")
    parts = [F.col(stratum_col)] if stratum_col else [F.lit(1)]
    win = Window.partitionBy(*parts).orderBy(
        F.col("_pri").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_mn", m_nano)
        .withColumn("_wg", guarded)
        .withColumn("_pri", pri)
        .withColumn("_rk", F.row_number().over(win))
        .filter(F.col("_rk") <= k)
        .drop("_mn", "_wg", "_pri", "_rk")
    )


def sample_token_budget(
    df: DataFrame,
    budget_tokens: int,
    token_col: str,
    key_col: str,
    salt: str = "",
    stratum_col: str | None = None,
    bucket_hex_chars: int = 3,
) -> DataFrame:
    """Deterministic TOKEN-budget carve: rank rows by md5(salt || key)
    (per stratum) and keep the maximal hash-ordered prefix whose
    cumulative token count stays ≤ budget_tokens.

    Mixtures are specified in tokens, not document counts (a "30B
    tokens of web, 5B of code" recipe) — `hash_sample`/`hash_sample_k`
    carve by rate/row count; this carves by the unit training actually
    consumes.  Same determinism contract: growth-stable (a new doc
    enters only by displacing the hash-order boundary), reproducible
    on any cluster size.

    100 TB shape — TWO-PASS BOUNDARY-BUCKET CARVE, never a global
    window.  The md5 hex string's lexicographic order equals its
    numeric order, so its first `bucket_hex_chars` chars (default 3 →
    4096 buckets) partition the per-stratum total order into
    contiguous, ordered ranges:

    1. one bounded shuffle aggregates token sums per
       (stratum, bucket);
    2. a driver prefix-scan over that ≤ 16^bucket_hex_chars ×
       n_strata-row table (the ONLY collect — bounded by construction,
       not by data volume) finds each bucket's entering cumulative
       offset and discards buckets that start past the budget;
    3. the per-row cumsum window runs partitioned by
       (stratum, bucket) — every task holds ~1/4096th of a stratum,
       and buckets wholly past the boundary never reach the sort.

    Identical output to the single-window formulation (integer sums
    are associative; within-bucket order is the same (md5, key)
    order).  Intended for mixture strata (languages/sources/splits —
    up to thousands of values); the driver table is
    n_strata × n_used_buckets rows.

    Output: input columns + `_cum_tokens` (the running total INCLUDING
    the row; drop it after auditing).

    NULL keys hash to NULL and sort FIRST (Spark asc null ordering) as
    one tie-group; with several NULL-key rows the order within that
    group is undefined — the determinism contract assumes keys are
    unique and non-null, as every keyed carve here does.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be ≥ 0, got {budget_tokens}")
    if not 1 <= bucket_hex_chars <= 8:
        raise ValueError(f"bucket_hex_chars must be in [1, 8], got {bucket_hex_chars}")
    h = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, bucket_hex_chars), 16, 10).cast("int")
    base = df.withColumn("_tb_h", h).withColumn("_tb_b", bucket)
    strata = [stratum_col] if stratum_col else []

    # Pass 1: per-(stratum, bucket) token sums — one small shuffle,
    # output ≤ 16^bucket_hex_chars rows per stratum.
    bstats = (
        base.groupBy(*strata, "_tb_b")
        .agg(F.sum(F.col(token_col)).cast("bigint").alias("_tb_sum"))
        .collect()
    )

    # Driver prefix-scan (bounded): entering offset per bucket; keep
    # only buckets whose offset can still admit rows.
    by_stratum: dict = {}
    for r in bstats:
        s = r[stratum_col] if stratum_col else None
        by_stratum.setdefault(s, []).append((r["_tb_b"], r["_tb_sum"]))
    offsets = []  # (stratum?, bucket, entering_offset)
    for s, rows in by_stratum.items():
        cum = 0
        # NULL keys hash to a NULL bucket; Spark's asc sort puts NULLs
        # first, so the None bucket is the earliest range.
        for b, tot in sorted(rows, key=lambda t: (t[0] is not None, t[0] or 0)):
            if cum > budget_tokens:
                break  # token sums are ≥ 0: nothing later can be kept
            offsets.append((s, b, cum) if stratum_col else (b, cum))
            cum += tot

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    spark = df.sparkSession
    fields = []
    if stratum_col:
        fields.append(StructField(stratum_col, df.schema[stratum_col].dataType, True))
    fields += [StructField("_tb_b", IntegerType(), True),
               StructField("_tb_off", LongType(), True)]
    off_df = spark.createDataFrame(offsets, StructType(fields))

    # Pass 2: broadcast the offset table (prunes past-boundary buckets
    # before any sort), then a cumsum window per (stratum, bucket).
    off_small = off_df.withColumnRenamed("_tb_b", "_tb_b2")
    cond = base["_tb_b"].eqNullSafe(F.col("_tb_b2"))
    if stratum_col:
        off_small = off_small.withColumnRenamed(stratum_col, "_tb_s2")
        cond = cond & base[stratum_col].eqNullSafe(F.col("_tb_s2"))
    joined = base.join(F.broadcast(off_small), cond, "inner")
    parts = ([F.col(stratum_col)] if stratum_col else []) + [F.col("_tb_b")]
    w = (
        Window.partitionBy(*parts)
        .orderBy(F.col("_tb_h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.col("_tb_off") + F.sum(F.col(token_col)).over(w)
    return (
        joined.withColumn("_cum_tokens", cum.cast("bigint"))
        .filter(F.col("_cum_tokens") <= budget_tokens)
        .drop("_tb_h", "_tb_b", "_tb_b2", "_tb_s2", "_tb_off")
    )


def source_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain/source-level corpus statistics — the rollup behind
    URL-level curation (C4's blocklists, RefinedWeb's per-domain
    filtering): one row per source with

    - n_docs, total_tokens,
    - avg_quality (micro-sum average of textstats.quality_score —
      exact integer accumulation, order-independent),
    - exact_dup_rate (1 − distinct content hashes / docs: a mirror/
      scraper-loop detector),
    - avg_chars.

    One scan, one groupBy(source) with map-side partial aggregation;
    skewed sources (one domain = half the corpus) are safe because
    every aggregate is algebraic."""
    from ..util import spread
    from .textstats import quality_score, token_count
    from .dedup import normalized_text

    q_micro = F.round(quality_score(F.col(text_col)) * 1_000_000).cast("long")
    return (
        spread(df, source_col)
        .select(
            F.col(source_col).alias("source"),
            token_count(F.col(text_col)).alias("_tok"),
            q_micro.alias("_q"),
            F.length(text_col).alias("_chars"),
            F.md5(normalized_text(F.col(text_col))).alias("_ch"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").cast("bigint").alias("total_tokens"),
            F.round(F.sum("_q") / F.count(F.lit(1)) / 1_000_000, 4).alias("avg_quality"),
            F.round(
                1.0 - F.countDistinct("_ch").cast("double") / F.count(F.lit(1)), 6
            ).alias("exact_dup_rate"),
            F.round(F.sum("_chars") / F.count(F.lit(1)), 2).alias("avg_chars"),
        )
    )


def filter_by_source(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_avg_quality: float = 0.0,
    max_dup_rate: float = 1.0,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """Drop every document from sources that fail domain-level rules:
    average quality below `min_avg_quality`, exact-dup rate above
    `max_dup_rate` (mirror detection), or an explicit blocklist.

    The source rollup is tiny (one row per domain) and broadcast into
    a semi-join — the corpus is scanned twice (stats + filter) but
    never shuffled on the doc grain."""
    stats = source_stats(df, source_col=source_col, text_col=text_col, id_col=id_col)
    good = stats.filter(
        (F.col("avg_quality") >= min_avg_quality)
        & (F.col("exact_dup_rate") <= max_dup_rate)
    ).select(F.col("source"))
    if blocklist:
        good = good.filter(~F.col("source").isin(list(blocklist)))
    return df.join(
        F.broadcast(good), df[source_col] == good["source"], "left_semi"
    )


def shuffle_deterministic(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "",
    partitions: int | None = None,
) -> DataFrame:
    """Reproducible corpus shuffle for training-order randomization:
    rows are totally ordered by md5(salt || key) — a pseudorandom
    permutation that is identical on every run, cluster size, and
    engine, and changes completely with the salt (epoch number →
    fresh order each epoch, no state kept anywhere).

    Scale shape: repartitionByRange on the hash + sortWithinPartitions
    — a range shuffle, not a single-partition global sort, so writing
    the shuffled corpus parallelizes across the cluster and file k
    holds the k-th contiguous hash range (readers stream files in
    name order to consume the permutation).

    Output: input columns + `_shuffle_key` (drop it after writing, or
    keep it as the tiebreak-free sort key)."""
    key = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    out = df.withColumn("_shuffle_key", key)
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return out.repartitionByRange(n, F.col("_shuffle_key")).sortWithinPartitions(
        "_shuffle_key"
    )


def build_mixture(
    parts: dict[str, tuple[DataFrame, int]],
    key_col: str = "doc_id",
    salt: str = "mix:",
) -> DataFrame:
    """Compose a training mixture from named corpora: each part is
    (DataFrame, rate_pct) — the deterministic hash-sampled fraction of
    that corpus to include — and rows carry a `mixture_source` tag.

    The sampling is the zero-shuffle md5 filter (`hash_sample`), so
    re-running with the same salt reproduces the mixture exactly and
    raising one part's rate strictly grows its contribution (nested
    samples) without touching the others — the knob-turning workflow
    of data-mixture tuning.  Schemas must align on the common columns
    (unionByName with allowMissingColumns; absent columns null-fill).
    """
    if not parts:
        raise ValueError("at least one mixture part required")
    out = None
    for name, (df, rate_pct) in sorted(parts.items()):
        if not 0 <= rate_pct <= 100:
            raise ValueError(f"rate_pct for {name!r} must be 0-100, got {rate_pct}")
        sampled = hash_sample(
            df, rate_pct=rate_pct, key_col=key_col, salt=f"{salt}{name}:"
        ).withColumn("mixture_source", F.lit(name))
        out = sampled if out is None else out.unionByName(
            sampled, allowMissingColumns=True
        )
    return out


def temperature_weights_core(
    pairs: list[tuple[str, int]], alpha: float, scale_ppm: int
) -> list[tuple[str, int, int]]:
    """Pure-Python core of `temperature_weights` (factored out so the
    DuckDB gate oracle can rerun the IDENTICAL float sequence
    off-Spark — the pinned-model oracle pattern): w_s = n_s^alpha,
    normalized and scaled to integer parts-per-`scale_ppm` with
    LARGEST-REMAINDER rounding (ties broken by source name), so the
    weights sum to exactly scale_ppm whenever any source is
    non-empty.  Returns (source, n_tokens, weight_ppm, epoch_weight)
    sorted by source, where epoch_weight = weight_ppm·10^12 // n is
    the integer PER-TOKEN weight (∝ p_s/t_s) the epoch planner
    needs."""
    import math

    ws = [(s, int(t), float(t) ** alpha if t > 0 else 0.0) for s, t in pairs]
    total = math.fsum(w for _, _, w in ws)
    if total <= 0.0:
        return sorted(((s, t, 0, 0) for s, t, _ in ws), key=lambda r: r[0])
    base = []
    for s, t, w in ws:
        x = w / total * scale_ppm
        base.append((s, t, x, math.floor(x)))
    rem = scale_ppm - sum(b for *_, b in base)
    order = sorted(
        range(len(base)),
        key=lambda i: (-(base[i][2] - base[i][3]), base[i][0]),
    )
    bump = set(order[: max(rem, 0)])
    out = []
    for i, (s, t, _x, b) in enumerate(base):
        ppm = b + (1 if i in bump else 0)
        # per-token weight ∝ p_s / t_s, the epoch-planner bridge;
        # any common scale cancels through the water-fill's λ
        out.append((s, t, ppm, (ppm * 10**12) // t if t > 0 else 0))
    return sorted(out, key=lambda r: r[0])


def temperature_weights(
    sources: DataFrame,
    alpha: float = 0.3,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    scale_ppm: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture weights (multilingual-sampling
    standard: XLM-R, Conneau et al. 2020 §3.1; mT5, Xue et al. 2021
    §3.2): p_s ∝ n_s^alpha over a per-source token rollup.  alpha=1
    is proportional (big sources dominate), alpha=0 is uniform;
    0.2–0.5 is the published up-sample-the-tail band.

    Output: (source, n_tokens, weight_ppm, epoch_weight).
    weight_ppm is the source's MIXTURE SHARE in integer
    parts-per-million, summing to EXACTLY scale_ppm
    (largest-remainder rounding, source-name tie-break) —
    bit-reproducible, no float in the output.  epoch_weight =
    weight_ppm·10^12 // n_tokens is the PER-TOKEN weight (∝ p_s/t_s):
    the epoch planner multiplies its weight by the source SIZE, so
    handing it the share directly would give big sources more epochs
    — the opposite of temperature sampling.  Empty sources (n=0) get
    weight 0 at any alpha.

    Driver-side over the per-source rollup (`source_stats` grain —
    bounded by the domain count, the ONLY collect).  Composes with the
    epoch planner: `plan_epoch_mixture(temperature_weights(rollup),
    weight_col='epoch_weight')` is α-sampling WITH the ≤4-epoch
    repetition cap — the data-constrained recipe end-to-end (each
    source's allocation share tracks weight_ppm until its cap binds);
    or feed budget_s = budget·weight_ppm//scale_ppm into
    `sample_token_budget` for a single-epoch carve."""
    if alpha < 0:
        raise ValueError(f"alpha must be ≥ 0, got {alpha}")
    if scale_ppm < 1:
        raise ValueError(f"scale_ppm must be ≥ 1, got {scale_ppm}")
    rows = sources.select(
        F.col(source_col).cast("string").alias("s"),
        F.col(tokens_col).cast("long").alias("t"),
    ).collect()
    out = temperature_weights_core(
        [(r["s"], int(r["t"] or 0)) for r in rows], alpha, scale_ppm
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField(source_col, StringType(), True),
        StructField(tokens_col, LongType(), True),
        StructField("weight_ppm", LongType(), True),
        StructField("epoch_weight", LongType(), True),
    ])
    return sources.sparkSession.createDataFrame(out, schema)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Version diff between two corpus snapshots: one row per doc id
    with status ∈ added | removed | changed | unchanged (content
    compared by normalized-text hash, the exact-dedup canonical form).

    The release-audit primitive: diff this release's corpus against
    the last, feed 'changed'+'added' into decontamination/eval
    refresh, and alarm on unexpected 'removed' counts.  One full outer
    join on the id — both sides reduce to (id, 16-byte hash) before
    the shuffle, so the compare moves hashes, not text."""
    from .dedup import normalized_text

    o = old.select(F.col(id_col).alias("id"), F.md5(normalized_text(F.col(text_col))).alias("_oh"))
    n = new.select(F.col(id_col).alias("id"), F.md5(normalized_text(F.col(text_col))).alias("_nh"))
    return (
        o.join(n, "id", "full")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("_oh").isNull(), "added")
            .when(F.col("_nh").isNull(), "removed")
            .when(F.col("_oh") == F.col("_nh"), "unchanged")
            .otherwise("changed")
            .alias("status"),
        )
    )


def release_corpus(
    docs: DataFrame,
    out_path: str,
    *,
    near_dup_pairs: DataFrame | None = None,
    split_weights: dict[str, int] | None = None,
    shuffle_salt: str = "release:",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_records_per_file: int | None = None,
    curriculum_score_col: str | None = None,
    curriculum_cuts: list[float] | None = None,
    curriculum_phases: int = 3,
    manifest: bool = True,
    **curate_kwargs,
) -> DataFrame:
    """One-call corpus release: curate → leakage-safe split →
    deterministic shuffle → partitioned lake write.

      1. `curate_corpus(docs, near_dup_pairs=…, **curate_kwargs)` —
         every filter/dedup stage of the pipeline, one lazy plan;
      2. `leakage_safe_split` on the SAME near-dup pairs, so a test
         doc's paraphrase can never sit in train;
      3. `shuffle_deterministic(salt=shuffle_salt)` — training order
         fixed by the salt, reproducible on any cluster;
      4. `bucketing.write_partitioned(partition_cols=['split'])` —
         readers prune to their split directory, files hold contiguous
         shuffle-hash ranges.

    Pass ``curriculum_score_col`` to release a CURRICULUM manifest
    instead of a flat shuffle: step 3 becomes `curriculum_order`
    (phase by score — explicit ``curriculum_cuts`` or exact rank
    terciles — salt-keyed order within each phase) and the write
    partitions by ['split', 'phase'] with an in-file sort on
    `_order_key`, so a trainer streams phase directories in order and
    files in key order — the full quality-annealed schedule with no
    global sort anywhere.

    Unless ``manifest=False``, a `_MANIFEST.json` data card lands
    next to the data: per-split doc counts, token totals (when
    ``token_col`` is passed) and an order-independent content
    checksum (`corpus_manifest`) plus the release parameters — two
    releases compare content-equal by checksum without pinning file
    layout.  The underscore prefix makes Spark/Hadoop readers skip the
    file when scanning the directory.  The manifest is written with
    the driver's local filesystem API; an object-store release
    (s3://, gs://) would route this one small file through the
    JVM Hadoop FileSystem instead.

    Returns the written DataFrame (lazily re-readable from out_path).
    Determinism contract: same inputs + same salts → row/CONTENT-
    identical release (every row, its split assignment, and its
    shuffle key are bit-stable).  File LAYOUT is not pinned:
    shuffle_deterministic's repartitionByRange samples partition
    boundaries and defaults to the cluster's parallelism, so file
    counts/boundaries may differ across runs or cluster sizes."""
    from ..sources.bucketing import write_partitioned

    curated = curate_corpus(
        docs, near_dup_pairs=near_dup_pairs, id_col=id_col, text_col=text_col,
        **curate_kwargs,
    )
    split = leakage_safe_split(
        curated, pairs=near_dup_pairs, weights=split_weights, id_col=id_col
    )
    if curriculum_score_col is not None:
        ordered = curriculum_order(
            split, curriculum_score_col, n_phases=curriculum_phases,
            cuts=curriculum_cuts, key_col=id_col, salt=shuffle_salt,
        )
        write_partitioned(
            ordered, out_path, ["split", "phase"],
            sort_cols=["_order_key"],
            max_records_per_file=max_records_per_file,
        )
    else:
        shuffled = shuffle_deterministic(split, key_col=id_col, salt=shuffle_salt)
        write_partitioned(
            shuffled.drop("_shuffle_key"), out_path, ["split"],
            sort_cols=None, max_records_per_file=max_records_per_file,
        )
    released = docs.sparkSession.read.parquet(out_path)
    if manifest:
        import json as _json
        import os as _os

        card = {
            "splits": corpus_manifest(
                released, id_col=id_col, text_col=text_col,
                token_col=curate_kwargs.get("token_col"),
            ),
            "params": {
                "shuffle_salt": shuffle_salt,
                "split_weights": split_weights,
                "curriculum_score_col": curriculum_score_col,
                "curriculum_phases": (
                    curriculum_phases if curriculum_score_col else None
                ),
            },
        }
        with open(_os.path.join(out_path, "_MANIFEST.json"), "w") as fh:
            _json.dump(card, fh, indent=2, default=str)
    return released


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_phases: int = 3,
    cuts: list[float] | None = None,
    key_col: str = "doc_id",
    salt: str = "",
    ascending: bool = True,
) -> DataFrame:
    """Phase-bucketed curriculum ordering: assign every document a
    training PHASE by its score (quality, perplexity, length — the
    standard quality-annealed data schedule: low phases first, the
    best data last), with a deterministic hash shuffle WITHIN each
    phase.

    Pass explicit ``cuts`` (ascending phase boundaries; phase i = the
    rows with score ≤ cuts[i], last phase = the rest) for the 100 TB
    path — thresholds come from a prior `quantile_summary`/
    `source_stats` pass or the training recipe itself.  With
    ``cuts=None`` the n_phases−1 boundaries are computed EXACTLY as
    rank-ceil(k·n/n_phases) score values via ORDER BY + LIMIT →
    TakeOrderedAndProject (the small-regime branch `lm.
    perplexity_buckets` uses — rank-deterministic, oracle-replayable,
    never an unpartitioned window).  ``ascending=False`` flips the
    phase direction (highest scores train first).

    Output: input columns + ``phase`` (0-based int) + ``_order_key``
    (md5(salt ‖ phase ‖ key)).  (phase, _order_key) is the total
    training order; deliberately NO global row index — writers sort by
    it per file (`shuffle_deterministic`'s repartitionByRange shape),
    so producing the manifest never serializes the corpus through one
    task.  Re-salt per epoch for a fresh within-phase order while the
    phase schedule stays fixed.

    NULL scores fall through every ``score <= cut`` comparison into
    the HIGHEST-SCORE phase (and are excluded from the exact-rank
    boundary computation when ``cuts=None``): last in the default
    ascending schedule, FIRST when ``ascending=False`` — unscorable
    docs are never dropped; pre-filter or coalesce the score if either
    placement is wrong for the recipe."""
    if n_phases < 1:
        raise ValueError(f"n_phases must be ≥ 1, got {n_phases}")
    sc = F.col(score_col)
    if cuts is None:
        finite = df.filter(sc.isNotNull())
        n = finite.count()
        cuts = []
        for k in range(1, n_phases):
            r = -(-k * n // n_phases)
            if r < 1:
                continue
            row = (
                finite.orderBy(sc.asc())
                .limit(r)
                .agg(F.max(sc))
                .collect()[0][0]
            )
            cuts.append(float(row))
    if sorted(cuts) != list(cuts):
        raise ValueError(f"cuts must be ascending, got {cuts}")
    phase: Column = F.lit(len(cuts))
    for i in range(len(cuts) - 1, -1, -1):
        phase = F.when(sc <= F.lit(cuts[i]), F.lit(i)).otherwise(phase)
    if not ascending:
        phase = F.lit(len(cuts)) - phase
    order_key = F.md5(
        F.concat(F.lit(salt), phase.cast("string"), F.lit("|"),
                 F.col(key_col).cast("string"))
    )
    return df.withColumn("phase", phase.cast("int")).withColumn(
        "_order_key", order_key
    )


def plan_epoch_mixture(
    sources: DataFrame,
    budget_tokens: int,
    max_epochs_ppm: int = 4_000_000,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    weight_col: str | None = None,
) -> DataFrame:
    """Epoch-aware repetition planning for data-constrained training
    (Muennighoff et al. 2023, arXiv:2305.16264: repeating data up to
    ~4 epochs is nearly as good as fresh data, then returns decay):
    split a global token budget across sources by WATER-FILLING —
    epochs_s = min(max_epochs, λ·w_s) with one global λ chosen so the
    weighted allocations exactly exhaust the budget; high-weight
    sources hit the epoch cap first and the remainder is shared
    proportionally.

    ALL arithmetic is exact integer (epochs in ppm; the boundary
    condition is a cross-multiplied comparison, λ is applied as ONE
    integer floor-division `B'·w // W'`), so the plan is
    bit-reproducible and SQL-replayable (HUGEINT cumsums) — no float
    accumulation anywhere.  Driver-side over the per-source rollup
    (`source_stats` grain — one row per source, bounded by the domain
    count, the ONLY collect).  `weight_col` defaults to every source
    weighing 1.

    Output: (source, n_tokens, weight, epochs_ppm, alloc_tokens,
    capped) — Σ alloc_tokens ≤ budget_tokens (floor slack only).
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be ≥ 0, got {budget_tokens}")
    if max_epochs_ppm < 0:
        raise ValueError(f"max_epochs_ppm must be ≥ 0, got {max_epochs_ppm}")
    w_expr = F.col(weight_col) if weight_col else F.lit(1)
    rows = (
        sources.select(
            F.col(source_col).cast("string").alias("s"),
            F.col(tokens_col).cast("long").alias("t"),
            w_expr.cast("long").alias("w"),
        ).collect()
    )
    srows = sorted(((r["s"], int(r["t"]), int(r["w"])) for r in rows),
                   key=lambda r: (-r[2], r[0]))
    budget_ppm = budget_tokens * 1_000_000
    total_wt = sum(t * w for _, t, w in srows)
    cap_before = wt_before = 0
    n_capped = 0
    for s, t, w in srows:
        # source caps iff the uniform λ over the remainder would give
        # it ≥ max_epochs: (B − capped)·w ≥ max_e·(remaining weighted)
        if w > 0 and (budget_ppm - cap_before) * w >= (
            max_epochs_ppm * (total_wt - wt_before)
        ):
            n_capped += 1
            cap_before += t * max_epochs_ppm
            wt_before += t * w
        else:
            break  # sorted by weight desc: nothing later caps either
    b_rem = budget_ppm - cap_before
    w_rem = total_wt - wt_before
    out = []
    for i, (s, t, w) in enumerate(srows):
        if i < n_capped:
            e, capped = max_epochs_ppm, True
        elif w_rem > 0:
            e, capped = (b_rem * w) // w_rem, False
        else:
            e, capped = 0, False
        out.append((s, t, w, e, (t * e) // 1_000_000, capped))

    from pyspark.sql.types import (BooleanType, LongType, StringType,
                                   StructField, StructType)

    schema = StructType([
        StructField(source_col, StringType(), True),
        StructField(tokens_col, LongType(), True),
        StructField("weight", LongType(), True),
        StructField("epochs_ppm", LongType(), True),
        StructField("alloc_tokens", LongType(), True),
        StructField("capped", BooleanType(), True),
    ])
    return sources.sparkSession.createDataFrame(out, schema)


def materialize_epoch_plan(
    parts: dict[str, DataFrame],
    plan: DataFrame,
    token_col: str,
    key_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "",
) -> DataFrame:
    """Turn a `plan_epoch_mixture` allocation into actual training
    rows — the step that makes the plan a corpus rather than a report.
    For each source with epochs e (ppm): every doc appears
    floor(e) times (tagged ``epoch_idx`` 0..floor(e)−1 via one
    `explode(sequence(...))` — no join, no shuffle), and the
    FRACTIONAL remainder epoch is a deterministic `sample_token_budget`
    carve (budget = alloc_tokens − floor(e)·source_tokens, exact
    integers) tagged ``epoch_idx = floor(e)``.

    Composition of two oracle-gated primitives; growth-stable and
    reproducible for the same reasons they are.  The plan table is
    collected driver-side (bounded: one row per source).  Output:
    input columns + (source, epoch_idx).

    Every source in ``parts`` must appear in the plan (ValueError
    otherwise); the converse is allowed — plan rows with no matching
    ``parts`` entry are skipped, so passing a subset of parts
    deliberately materializes a partial corpus (their allocation is
    simply not drawn).

    The fractional-remainder carves of ALL sources run as ONE fused
    `sample_token_budget`-shaped plan over the tagged union (per-source
    budget/salt applied by source): one bucket-sum aggregation + driver
    prefix-scan + one broadcast-join + one (source, bucket)-partitioned
    cumsum window, instead of N of each.  Per source the hash input,
    bucket split, entering offsets and budget filter are byte-identical
    to the per-source `sample_token_budget` call (which remains the
    shape when only one source needs a carve), so the emitted rows are
    exactly the same — only the number of shuffles/jobs changes."""
    prows = {r[source_col]: r for r in plan.collect()}
    outs: list[DataFrame] = []
    carves: list[tuple[DataFrame, str, int, int]] = []  # (tagged, name, n_full, budget)
    for name, df in sorted(parts.items()):
        if name not in prows:
            raise ValueError(f"source {name!r} missing from the epoch plan")
        r = prows[name]
        n_full = int(r["epochs_ppm"]) // 1_000_000
        tagged = df.withColumn(source_col, F.lit(name))
        if n_full > 0:
            outs.append(
                tagged.withColumn(
                    "epoch_idx",
                    F.explode(F.sequence(F.lit(0), F.lit(n_full - 1))),
                )
            )
        frac_budget = int(r["alloc_tokens"]) - n_full * int(r["n_tokens"])
        if frac_budget > 0:
            carves.append((tagged, name, n_full, frac_budget))
    if len(carves) == 1:
        tagged, name, n_full, frac_budget = carves[0]
        carve = sample_token_budget(
            tagged, frac_budget, token_col, key_col,
            salt=f"{salt}{name}:e{n_full}:",
        )
        outs.append(
            carve.drop("_cum_tokens").withColumn("epoch_idx", F.lit(n_full))
        )
    elif carves:
        outs.append(
            _fused_epoch_carves(carves, token_col, key_col, source_col, salt)
        )
    if not outs:
        first = next(iter(sorted(parts.items())))[1]
        return (
            first.withColumn(source_col, F.lit(""))
            .withColumn("epoch_idx", F.lit(0)).limit(0)
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _fused_epoch_carves(
    carves: list[tuple[DataFrame, str, int, int]],
    token_col: str,
    key_col: str,
    source_col: str,
    salt: str,
    bucket_hex_chars: int = 3,
) -> DataFrame:
    """All fractional-epoch carves of `materialize_epoch_plan` as ONE
    two-pass boundary-bucket plan (see `sample_token_budget` for the
    algorithm): the tagged per-source frames are unioned, the md5 hash
    uses each row's own source salt (``salt || source || ':e' || n_full
    || ':'`` — the same string the per-source call would use), bucket
    sums aggregate per (source, bucket) in one shuffle, the driver
    prefix-scan runs per source against that source's budget, and one
    broadcast-join + one (source, bucket)-partitioned cumsum window
    replaces N of each.  Output: input columns + source + epoch_idx,
    rows identical to the per-source composition."""
    salt_map = F.create_map(
        *[F.lit(x) for _, name, n_full, _ in carves
          for x in (name, f"{salt}{name}:e{n_full}:")]
    )
    budget_map = {name: b for _, name, _, b in carves}
    epoch_map = F.create_map(
        *[F.lit(x) for _, name, n_full, _ in carves for x in (name, n_full)]
    )
    u = carves[0][0]
    for df, _, _, _ in carves[1:]:
        u = u.unionByName(df)
    h = F.md5(F.concat(salt_map[F.col(source_col)], F.col(key_col).cast("string")))
    bucket = F.conv(F.substring(h, 1, bucket_hex_chars), 16, 10).cast("int")
    base = u.withColumn("_tb_h", h).withColumn("_tb_b", bucket)

    # Pass 1: per-(source, bucket) token sums — ONE shuffle + collect
    # for every source (bounded: ≤ 16^bucket_hex_chars × n_sources rows).
    bstats = (
        base.groupBy(source_col, "_tb_b")
        .agg(F.sum(F.col(token_col)).cast("bigint").alias("_tb_sum"))
        .collect()
    )
    by_source: dict = {}
    for r in bstats:
        by_source.setdefault(r[source_col], []).append((r["_tb_b"], r["_tb_sum"]))
    offsets = []  # (source, bucket, entering_offset)
    for s, rows in by_source.items():
        cum = 0
        for b, tot in sorted(rows, key=lambda t: (t[0] is not None, t[0] or 0)):
            if cum > budget_map[s]:
                break  # token sums are ≥ 0: nothing later can be kept
            offsets.append((s, b, cum))
            cum += tot

    from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

    spark = u.sparkSession
    off_df = spark.createDataFrame(
        offsets,
        StructType([
            StructField("_tb_s2", StringType(), True),
            StructField("_tb_b2", IntegerType(), True),
            StructField("_tb_off", LongType(), True),
        ]),
    )

    # Pass 2: broadcast the offset table, one cumsum window per
    # (source, bucket), per-source budget filter via the literal map.
    cond = base["_tb_b"].eqNullSafe(F.col("_tb_b2")) & (
        base[source_col] == F.col("_tb_s2")
    )
    joined = base.join(F.broadcast(off_df), cond, "inner")
    w = (
        Window.partitionBy(F.col(source_col), F.col("_tb_b"))
        .orderBy(F.col("_tb_h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.col("_tb_off") + F.sum(F.col(token_col)).over(w)).cast("bigint")
    budget_col = F.create_map(
        *[c for name, b in budget_map.items()
          for c in (F.lit(name), F.lit(b).cast("bigint"))]
    )[F.col(source_col)]
    return (
        joined.withColumn("_cum_tokens", cum)
        .filter(F.col("_cum_tokens") <= budget_col)
        .drop("_tb_h", "_tb_b", "_tb_b2", "_tb_s2", "_tb_off", "_cum_tokens")
        .withColumn("epoch_idx", epoch_map[F.col(source_col)])
    )


def corpus_manifest(
    df: DataFrame,
    split_col: str | None = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
) -> list[dict]:
    """Release data card: one summary dict per split (or one total when
    ``split_col`` is None/absent) with n_docs, total_tokens (when a
    token column is present), and an ORDER-INDEPENDENT content
    checksum — bit_xor over the first 60 bits of
    md5(id ‖ md5(text)) as an integer — so two releases compare
    content-equal without fixing file layout (release_corpus
    deliberately does not pin layout).  md5-based rather than
    xxhash64 so the checksum replays EXACTLY in any engine with md5 +
    hex→int (the DuckDB gate oracle does; xxhash64 has no cross-engine
    twin).  One aggregation pass (bit_xor and sum are
    partial-aggregable, so the shuffle carries one row per split); the
    result is a handful of rows collected driver-side.  An empty
    frame/split yields n_docs=0 with checksum 0."""
    cols = set(df.columns)
    keys = [split_col] if split_col and split_col in cols else []
    inner = (
        f"concat(cast({id_col} AS string), md5(coalesce({text_col}, '')))"
        if text_col in cols
        else f"cast({id_col} AS string)"
    )
    checksum = F.expr(
        f"bit_xor(cast(conv(substr(md5({inner}), 1, 15), 16, 10) AS bigint))"
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(checksum, F.lit(0)).alias("content_checksum"),
    ]
    if token_col and token_col in cols:
        aggs.append(
            F.coalesce(F.sum(token_col).cast("bigint"), F.lit(0))
            .alias("total_tokens")
        )
    rows = df.groupBy(*keys).agg(*aggs).collect()
    out = []
    for r in sorted(rows, key=lambda r: str(r[split_col]) if keys else ""):
        d = {"n_docs": r["n_docs"],
             "content_checksum": int(r["content_checksum"])}
        if keys:
            d["split"] = r[split_col]
        if token_col and token_col in cols:
            d["total_tokens"] = int(r["total_tokens"])
        out.append(d)
    return out


def pack_blocks(
    packed: DataFrame,
    token_col: str,
    budget: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Block-side view of pack_sequential's output: one row per
    (group, block, doc) SEGMENT — what a training loader actually
    consumes to build block-diagonal attention masks (each block is a
    training sequence; segments mark where cross-document attention
    must be cut).

    Input must carry pack_sequential's start_block/end_block/
    block_offset plus `token_col`.  Reconstructs the global token span
    (pre = start_block·budget + block_offset) and explodes each doc
    into the blocks it overlaps:

      seg_offset = max(pre, block·budget) − block·budget
      seg_len    = min(pre + tokens, (block+1)·budget) − that start

    Pure codegen (sequence + explode + arithmetic): the explode factor
    is tokens/budget per doc — the output is exactly one row per
    (block, doc) incidence, the same cardinality the loader reads.
    Group by (group_cols, block) downstream for per-block fill stats;
    Σ seg_len per block = budget for every interior block by
    construction."""
    gcols = list(group_cols) if group_cols else []
    pre = F.col("start_block") * budget + F.col("block_offset")
    cum = pre + F.col(token_col)
    out = packed.withColumn(
        "block", F.explode(F.sequence(F.col("start_block"), F.col("end_block")))
    )
    seg_start = F.greatest(pre, F.col("block") * budget)
    seg_end = F.least(cum, (F.col("block") + 1) * budget)
    return out.select(
        *gcols,
        "block",
        *[c for c in packed.columns if c not in gcols],
        (seg_start - F.col("block") * budget).cast("long").alias("seg_offset"),
        (seg_end - seg_start).cast("long").alias("seg_len"),
    ).filter(F.col("seg_len") > 0)


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pairs: int = 1,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Market-basket co-occurrence with exact support and lift — the
    association-mining primitive (items bought together, tags
    co-assigned, errors co-firing in a window): for every unordered
    item pair sharing a basket, ``n_ab`` (supporting baskets),
    the marginals ``n_a``/``n_b``, and
    ``lift_ppm = n_baskets·n_ab·1e6 div (n_a·n_b)`` — lift > 1e6
    means the pair co-occurs MORE than independence predicts.  All
    integer arithmetic (DECIMAL(38,0) for the lift product, so the
    1e12-basket regime can't overflow).

    Shape (the dedup posting-list pattern, basket-side): one
    per-basket ``collect_set`` (basket-keyed shuffle), in-row sorted
    upper-triangle pair expansion, one pair-keyed count — cost
    Σ|basket|² over baskets, NEVER items × items.  Marginals are one
    distinct (basket, item) count joined back on the pair's items
    (item-cardinality tables).  The skew risk is the MEGA-BASKET
    (one basket with 1e5 items = 1e10 pairs): `max_basket_items`
    drops baskets above the cap — the max_gram_df recall/cost trade,
    loud in the signature, None keeps exact semantics.  Pairs,
    marginals, and `n_baskets` all come from the SAME capped basket
    universe (a capped n_ab against uncapped n_a/n_b/n_baskets
    would mix universes and skew lift — the association_rules
    contract).  ``min_pairs`` prunes the long tail before the
    marginal join."""
    if min_pairs < 1:
        raise ValueError("min_pairs must be >= 1")
    rows = df.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    baskets = rows.groupBy("_b").agg(
        F.sort_array(F.collect_set("_i")).alias("items")
    )
    if max_basket_items is not None:
        # the cap drops whole baskets — rebuild the (basket, item)
        # rows from the SURVIVING baskets so the marginals and the
        # basket total count over the identical universe as n_ab
        baskets = baskets.filter(
            F.size("items") <= max_basket_items
        ).localCheckpoint(eager=False)
        rows = baskets.select("_b", F.explode("items").alias("_i"))
    pairs = baskets.selectExpr(
        "items", "posexplode(items) AS (p, item_a)"
    ).selectExpr("item_a", "explode(slice(items, p + 2, size(items))) AS item_b")
    support = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    ).filter(F.col("n_ab") >= min_pairs)
    item_counts = rows.groupBy("_i").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    n_baskets = baskets.count()
    dec = "decimal(38,0)"
    return (
        support
        .join(item_counts.select(F.col("_i").alias("item_a"),
                                 F.col("n_i").alias("n_a")), "item_a")
        .join(item_counts.select(F.col("_i").alias("item_b"),
                                 F.col("n_i").alias("n_b")), "item_b")
        .select(
            "item_a", "item_b", "n_ab", "n_a", "n_b",
            F.expr(
                f"CAST(CAST({int(n_baskets)} AS {dec}) * n_ab * 1000000 "
                f"div (CAST(n_a AS {dec}) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    max_k: int = 3,
    max_basket_items: int | None = None,
) -> DataFrame:
    """A-priori frequent itemsets (Agrawal & Srikant, VLDB 1994) up
    to size `max_k` — `cooccurrence_pairs`' general sibling: every
    item SET supported by ≥ `min_support` distinct baskets, with
    exact counts and integer support ppm.

    Level-synchronous by design (A-priori is): level k+1 candidates
    come from extending each frequent k-set OCCURRENCE (basket rows,
    not the cross space) by the basket's frequent items ABOVE the
    set's last item — each (k+1)-set is generated once, in sorted
    order — then pruned by the A-priori property before counting
    (every (member, new-item) pair must itself be frequent: k
    left-semi joins against the small L2 table; pruning is a cost
    lever only — the count verifies, so results are exact at any
    pruning depth).  Baskets shrink as levels rise: occurrences are
    re-filtered to frequent sets each level, so the join input decays
    the way the lattice does.  One `count()` action per level (the
    level barrier; documented cost of the algorithm's synchronous
    shape) and an early stop when a level goes empty.

    Scale: the shuffles carry (basket, itemset-occurrence) rows
    bounded by Σ_baskets C(|frequent items in basket|, k) AFTER
    min_support/L2 pruning — never items^k.  The mega-basket risk is
    `cooccurrence_pairs`' same trade: `max_basket_items` drops
    baskets above the cap, loud in the signature, None = exact.
    The grouping key is the sorted item ARRAY (tungsten-hashable,
    no string concat in the hot aggregate); itemsets format to a
    '|'-joined display string only at the end.

    Output: (itemset string [items sorted asc, '|' joins], k, cnt,
    support_ppm = cnt·1e6 div n_baskets)."""
    if min_support < 1:
        raise ValueError("min_support must be >= 1")
    if max_k < 1:
        raise ValueError("max_k must be >= 1")
    rows = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .filter(F.col("_i").isNotNull())
        .distinct()
    )
    if max_basket_items is not None:
        keep = (
            rows.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_basket_items)
            .select("_b")
        )
        rows = rows.join(keep, "_b", "left_semi")
    rows = rows.localCheckpoint(eager=False)
    n_baskets = rows.select("_b").distinct().count()
    l1 = (
        rows.groupBy("_i")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= min_support)
        .localCheckpoint(eager=False)
    )
    frows = rows.join(l1.select("_i"), "_i", "left_semi") \
        .localCheckpoint(eager=False)
    levels = [l1.select(F.array("_i").alias("_set"), "cnt")]
    occ = frows.select(
        "_b", F.array("_i").alias("_set"), F.col("_i").alias("_last")
    )
    l2_pairs = None
    for k in range(2, max_k + 1):
        cand = occ.join(
            frows.select("_b", F.col("_i").alias("_c")), "_b"
        ).filter(F.col("_c") > F.col("_last"))
        if l2_pairs is not None:
            for j in range(k - 1):
                cand = cand.join(
                    l2_pairs,
                    (F.col("_set")[j] == F.col("_pa"))
                    & (F.col("_c") == F.col("_pb")),
                    "left_semi",
                )
        nxt = cand.select(
            "_b",
            F.concat("_set", F.array("_c")).alias("_set"),
            F.col("_c").alias("_last"),
        )
        lk = (
            nxt.groupBy("_set")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .filter(F.col("cnt") >= min_support)
            .localCheckpoint(eager=False)
        )
        if lk.limit(1).count() == 0:
            break
        levels.append(lk)
        if k == 2:
            l2_pairs = lk.select(
                F.col("_set")[0].alias("_pa"), F.col("_set")[1].alias("_pb")
            ).localCheckpoint(eager=False)
        if k < max_k:
            occ = nxt.join(lk.select("_set"), "_set", "left_semi") \
                .localCheckpoint(eager=False)
    out = levels[0]
    for lk in levels[1:]:
        out = out.unionByName(lk)
    return out.select(
        F.array_join(
            F.transform("_set", lambda x: x.cast("string")), "|"
        ).alias("itemset"),
        F.size("_set").alias("k"),
        "cnt",
        F.expr(
            f"CAST(cnt * 1000000 div {int(n_baskets)} AS BIGINT)"
        ).alias("support_ppm"),
    )


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    min_confidence_ppm: int = 0,
    max_k: int = 3,
    max_basket_items: int | None = None,
) -> DataFrame:
    """A-priori phase 2 (Agrawal & Srikant 1994): one-item-consequent
    association rules from the frequent itemsets — for every frequent
    set Z (2 ≤ |Z| ≤ max_k) and every c ∈ Z, the rule
    ``Z∖{c} → c`` with exact integer metrics:

        confidence_ppm = cnt(Z)·1e6 div cnt(Z∖{c})
        lift_ppm       = cnt(Z)·n_baskets·1e6 div (cnt(Z∖{c})·cnt(c))

    (lift > 1e6 = the antecedent raises the consequent's odds over
    independence — DECIMAL(38,0) product, no overflow at 1e12
    baskets).  One-item consequents are the standard restriction:
    multi-item consequents add nothing for ranking (every rule
    Z∖S → S is implied by its one-item projections at equal support)
    and blow the rule count up combinatorially.

    Shape: `frequent_itemsets` (the level tables) + an explode of k
    rows per frequent set + two joins back to the itemset table —
    antecedent by its sorted display string (levels store sorted
    items, and a sorted set minus one element re-sorted IS its
    display string, so the join key is exact), consequent by the
    1-sets.  Cost beyond phase 1: Σ k·|L_k| rows, itemset-table-sized
    joins.

    Output: (antecedent '|'-joined, consequent, cnt [= cnt(Z)],
    confidence_ppm, lift_ppm), filtered to
    confidence ≥ min_confidence_ppm."""
    if not 0 <= min_confidence_ppm <= 1_000_000:
        raise ValueError("min_confidence_ppm must be in [0, 1e6]")
    if max_k < 2:
        raise ValueError("max_k must be >= 2 for rules")
    rows = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .filter(F.col("_i").isNotNull())
        .distinct()
    )
    # n_baskets MUST be counted over the SAME basket universe
    # frequent_itemsets counts support in: apply the identical
    # max_basket_items cap first, else lift_ppm mixes universes
    # (capped cnt/_acnt/_ccnt against an uncapped total).
    if max_basket_items is not None:
        keep = (
            rows.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_basket_items)
            .select("_b")
        )
        rows = rows.join(keep, "_b", "left_semi")
    n_baskets = rows.select("_b").distinct().count()
    sets = frequent_itemsets(
        df, basket_col, item_col, min_support, max_k,
        max_basket_items=max_basket_items,
    ).localCheckpoint(eager=False)
    by_key = sets.select(
        F.col("itemset").alias("_key"), F.col("cnt").alias("_kcnt")
    )
    split = (
        sets.filter(F.col("k") >= 2)
        .withColumn("_items", F.split("itemset", r"\|"))
        .select(
            "itemset", "cnt",
            F.posexplode("_items").alias("_p", "consequent"),
            F.size("_items").alias("_n"),
        )
        .withColumn(
            "antecedent",
            F.array_join(
                F.concat(
                    F.slice(F.split("itemset", r"\|"), F.lit(1), F.col("_p")),
                    F.expr(
                        "slice(split(itemset, '\\\\|'), _p + 2, _n - _p - 1)"
                    ),
                ),
                "|",
            ),
        )
    )
    dec = "decimal(38,0)"
    out = (
        split.join(
            by_key.select(
                F.col("_key").alias("antecedent"),
                F.col("_kcnt").alias("_acnt"),
            ),
            "antecedent",
        )
        .join(
            by_key.select(
                F.col("_key").alias("consequent"),
                F.col("_kcnt").alias("_ccnt"),
            ),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "cnt",
            F.expr(
                f"CAST(CAST(cnt AS {dec}) * 1000000 div _acnt AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                f"CAST(CAST(cnt AS {dec}) * {int(n_baskets)} * 1000000 "
                f"div (CAST(_acnt AS {dec}) * _ccnt) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return out.filter(F.col("confidence_ppm") >= int(min_confidence_ppm))
