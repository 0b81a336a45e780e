"""Substring-level (span) deduplication — the Lee et al. 2021
("Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) exact-substring tier, re-expressed as DataFrame ops.

Document-level dedup (operators/dedup.py) removes whole near-identical
documents; this module removes *repeated passages* — boilerplate
headers, license blocks, quoted chunks — that survive doc-level dedup
because the surrounding text differs.  The reference pipeline has no
analog (its dedup is link-level, ArticleServiceImpl.java:131-134); this
is a training-data extension designed for the 100 TB corpus case.

Spark-first formulation (no suffix array, no cross join):

1. every k-token window of every document is hashed (md5 of the
   space-joined window — deterministic across engines, so the DuckDB
   oracle can reproduce it bit-for-bit);
2. one groupBy(window_hash) counts distinct documents and picks the
   canonical (minimum-id) holder — shuffle volume is one row per
   window occurrence, with map-side partial aggregation; a boilerplate
   window shared by millions of docs is ONE reduce key whose state is
   (count, min), not a posting list, so hot windows don't skew;
3. windows duplicated across ≥ min_docs documents flow back to their
   positions via an equi-join on the hash, and per-document
   gaps-and-islands window functions merge overlapping windows into
   maximal spans;
4. removal cuts the matched token RANGES out of the ORIGINAL text
   (Lee et al.'s semantics): the original non-whitespace runs and the
   original separator runs are re-interleaved JVM-side, dropping each
   removed token together with its trailing separator — casing,
   newlines, and punctuation spacing survive, and a document with no
   duplicated span passes through byte-identical.  Matching is still
   case-insensitive (windows hash the lowercased tokens); only the
   match side normalizes, never the rewrite side.  The corpus text is
   never exploded to token-grain rows, so the rewrite costs one
   equi-join plus per-row array work.

Policies: 'all' removes every duplicated occurrence (Lee et al.'s
choice — at most one copy of training data is lost corpus-wide only
when keep_first is used); 'keep_first' preserves the occurrence in the
lowest-id document holding each window.

Variants sharing the same machinery:
- `repeated_spans` counts occurrences (within-doc repeats included),
  the removal analog of textstats.repetition_stats;
- `dedup_lines_across_docs` runs the aggregation at line grain
  (RefinedWeb-style);
- `build_window_index` / `remove_corpus_spans` are the incremental
  admission pair: a persisted 16-byte-per-window hash index lets a
  new shard strip corpus-known passages in O(|shard|).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import spread
from .textstats import _tokens, _word_ngrams


def _window_occurrences(df: DataFrame, k: int, text_col: str, id_col: str) -> DataFrame:
    """(id, start, whash) for every k-token window occurrence."""
    toks = _tokens(F.col(text_col))
    return spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(_word_ngrams(toks, k)).alias("start", "gram"),
    ).filter(F.col("gram").isNotNull()).select(
        "id", "start", F.md5("gram").alias("whash")
    )


def duplicated_windows(
    df: DataFrame,
    k: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All k-token window occurrences that appear in ≥ min_docs distinct
    documents.

    Returns (id, start, whash, n_docs, keep_id) — one row per duplicated
    window *occurrence*; `start` is the 0-based token offset, `keep_id`
    the minimum document id holding the window (the canonical copy under
    policy='keep_first').

    Two-pass shape: the window stream is produced twice (once into the
    aggregate, once for the position join) but each pass is a pure map
    stage over the scan — cheaper at scale than materializing positions
    through the aggregation's shuffle.
    """
    if k < 2:
        raise ValueError("window size k must be ≥ 2 tokens")
    if min_docs < 2:
        raise ValueError("min_docs must be ≥ 2 (a window is 'duplicated' across docs)")
    occurrences = _window_occurrences(df, k, text_col, id_col)
    dup = (
        occurrences.groupBy("whash")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.min("id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return occurrences.join(dup, "whash").select("id", "start", "whash", "n_docs", "keep_id")


def duplicated_spans(
    df: DataFrame,
    k: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "all",
) -> DataFrame:
    """Maximal duplicated token spans per document.

    Merges the (overlapping) duplicated k-windows of
    `duplicated_windows` into maximal [span_start, span_end] token
    intervals via gaps-and-islands: a running max of window end over
    the per-document start order opens a new island exactly when a
    window starts past every previous end + 1.  Returns
    (id, span_start, span_end, n_windows).

    policy='keep_first' exempts windows whose document IS the canonical
    keep_id, so the corpus retains one copy of each passage.
    """
    if policy not in ("all", "keep_first"):
        raise ValueError("policy must be 'all' or 'keep_first'")
    wins = duplicated_windows(df, k=k, min_docs=min_docs, text_col=text_col, id_col=id_col)
    if policy == "keep_first":
        wins = wins.filter(F.col("id") != F.col("keep_id"))
    return _merge_islands(
        wins.select("id", "start", (F.col("start") + F.lit(k - 1)).alias("end"))
    )


def _merge_islands(wins: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (id, start, end) token windows into
    maximal disjoint [span_start, span_end] intervals per id: a running
    max of end over the per-id start order opens a new island exactly
    when a window starts past every previous end + 1."""
    order = Window.partitionBy("id").orderBy("start")
    prev_max_end = F.max("end").over(order.rowsBetween(Window.unboundedPreceding, -1))
    islands = wins.select(
        "id", "start", "end",
        F.when(prev_max_end.isNull() | (F.col("start") > prev_max_end + 1), 1)
        .otherwise(0)
        .alias("_new_island"),
    ).select(
        "id", "start", "end",
        F.sum("_new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("_island"),
    )
    return islands.groupBy("id", "_island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("_island")


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "all",
    spans_df: DataFrame | None = None,
) -> DataFrame:
    """Rewrite each document with its duplicated spans CUT FROM THE
    ORIGINAL TEXT (Lee et al. 2021's range-cut semantics).

    Output: input columns + (cleaned_text, n_removed_tokens,
    n_spans).  Documents with no duplicated span pass through with
    cleaned_text byte-identical to the input — casing, newlines, and
    punctuation spacing are preserved everywhere.  Only window
    MATCHING is normalized (lowercased tokens); the rewrite
    re-interleaves the original non-whitespace runs with the original
    separator runs, dropping each removed token together with its
    trailing separator (so "a B.\\nc" minus token 1 is "a c", keeping
    the document's own whitespace elsewhere).

    The rewrite is one equi-join (docs ⋈ per-doc span lists) plus JVM
    array lambdas over regexp_extract_all token/separator runs — span
    lists are per-document-bounded (collect_list after island merge),
    and the token array never leaves its row, so there is no
    token-grain shuffle anywhere in the plan.

    Pass `spans_df` (a `duplicated_spans` output, possibly pinned with
    localCheckpoint) to reuse an already-computed span table — a caller
    that also reports the spans themselves halves the window passes.
    """
    spans = spans_df if spans_df is not None else duplicated_spans(
        df, k=k, min_docs=min_docs, text_col=text_col, id_col=id_col, policy=policy
    )
    span_lists = spans.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("span_start", "span_end"))).alias("_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("n_removed_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    joined = df.join(span_lists, df[id_col] == span_lists["id"], "left").drop(span_lists["id"])
    no_span = F.col("_spans").isNull()
    # Original-text reconstruction: token runs and separator runs of the
    # RAW text.  Token j's (0-based) trailing separator sits at 1-based
    # seps index j+1+off, where off=1 iff the text begins with
    # whitespace (then seps[1] is the preserved leading run).  Keeping
    # every token therefore rebuilds the input exactly; dropping token j
    # drops its trailing separator with it.
    text = F.col(text_col)
    toks_orig = F.regexp_extract_all(text, F.lit(r"\S+"), 0)
    seps = F.regexp_extract_all(text, F.lit(r"\s+"), 0)
    n_tok = F.size(toks_orig)
    starts_ws = text.rlike(r"^\s")
    off = F.when(starts_ws, F.lit(1)).otherwise(F.lit(0))
    lead = F.when(starts_ws, F.element_at(seps, 1)).otherwise(F.lit(""))
    removed = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    # A kept token keeps its trailing separator iff another kept token
    # follows (_lk = last kept index) or it closes the document (then
    # the separator is the document's own trailing whitespace) — so a
    # removed TAIL takes the separator before it along, and a middle
    # cut collapses to the single separator that preceded it.
    enriched = joined.withColumn(
        "_lk",
        F.array_max(
            F.filter(
                F.when(n_tok > 0, F.sequence(F.lit(0), n_tok - F.lit(1)))
                .otherwise(F.array().cast("array<int>")),
                lambda i: ~removed(i),
            )
        ),
    )
    keep_sep = lambda i: (i < F.col("_lk")) | (i == n_tok - F.lit(1))  # noqa: E731
    pieces = F.transform(
        toks_orig,
        lambda t, i: F.when(removed(i), F.lit("")).otherwise(
            F.concat(
                t,
                F.when(
                    keep_sep(i),
                    F.coalesce(F.try_element_at(seps, i + F.lit(1) + off), F.lit("")),
                ).otherwise(F.lit("")),
            )
        ),
    )
    return enriched.select(
        *[F.col(c) for c in df.columns],
        F.when(no_span, text)
        .otherwise(F.concat(lead, F.array_join(pieces, "")))
        .alias("cleaned_text"),
        F.coalesce(F.col("n_removed_tokens"), F.lit(0)).cast("long").alias("n_removed_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


def repeated_spans(
    df: DataFrame,
    k: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "keep_first",
) -> DataFrame:
    """Maximal REPEATED spans counting occurrences anywhere — including
    inside the same document (the self-repeating boilerplate case
    `duplicated_spans`' distinct-doc counting deliberately ignores, and
    the removal analog of textstats.repetition_stats' flags).

    A window qualifies when it occurs ≥ min_count times corpus-wide;
    policy='keep_first' exempts the globally first occurrence (minimum
    (id, start) — deterministic), 'all' removes every occurrence.
    Aggregation state per window hash is (count, min-struct): hot
    boilerplate stays one reduce key, exactly as in
    `duplicated_windows`.  Returns (id, span_start, span_end,
    n_windows)."""
    if k < 2:
        raise ValueError("window size k must be ≥ 2 tokens")
    if min_count < 2:
        raise ValueError("min_count must be ≥ 2")
    if policy not in ("all", "keep_first"):
        raise ValueError("policy must be 'all' or 'keep_first'")
    occ = _window_occurrences(df, k, text_col, id_col)
    rep = (
        occ.groupBy("whash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("id", "start")).alias("_first"),
        )
        .filter(F.col("n_occ") >= min_count)
    )
    wins = occ.join(rep, "whash")
    if policy == "keep_first":
        wins = wins.filter(
            (F.col("id") != F.col("_first.id")) | (F.col("start") != F.col("_first.start"))
        )
    return _merge_islands(
        wins.select("id", "start", (F.col("start") + F.lit(k - 1)).alias("end"))
    )


def remove_repeated_spans(
    df: DataFrame,
    k: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "keep_first",
) -> DataFrame:
    """Rewrite documents with their repeated spans removed (within-doc
    repeats included) — same in-row rewrite as
    `remove_duplicated_spans`, driven by `repeated_spans`."""
    spans = repeated_spans(
        df, k=k, min_count=min_count, text_col=text_col, id_col=id_col, policy=policy
    )
    return remove_duplicated_spans(
        df, k=k, text_col=text_col, id_col=id_col, policy=policy, spans_df=spans
    )


def dedup_lines_across_docs(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    policy: str = "keep_first",
) -> DataFrame:
    """RefinedWeb-style cross-document line dedup: any normalized line
    occurring in ≥ min_docs distinct documents is dropped from every
    document (policy='all') or from all but the lowest-id holder
    (policy='keep_first').

    Same aggregation shape as `duplicated_windows` at line grain — one
    groupBy(line_hash) with (countDistinct, min) state, then a hash
    equi-join back to line positions and an in-row rebuild.  Output:
    input columns + (cleaned_text, n_removed_lines).

    Matching normalizes (trimmed, lowercased, blank lines skipped);
    the REBUILD keeps the document's original lines — casing, interior
    whitespace, and blank lines survive, and a doc losing no line
    passes through byte-identical (modulo nothing: split+join on \\n is
    the identity).
    """
    if policy not in ("all", "keep_first"):
        raise ValueError("policy must be 'all' or 'keep_first'")
    all_lines = F.split(F.col(text_col), r"\n", -1)
    lines = F.filter(
        F.transform(all_lines, lambda l: F.trim(l)),
        lambda l: l != F.lit(""),
    )
    occ = spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(lines).alias("pos", "line"),
    ).filter(F.col("line").isNotNull()).select(
        "id", "pos", F.md5(F.lower(F.col("line"))).alias("lhash")
    )
    dup = (
        occ.groupBy("lhash")
        .agg(F.countDistinct("id").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") >= min_docs)
    )
    removed = occ.join(dup, "lhash")
    if policy == "keep_first":
        removed = removed.filter(F.col("id") != F.col("keep_id"))
    removed_pos = removed.groupBy("id").agg(
        F.collect_set("pos").alias("_rm"), F.count(F.lit(1)).alias("n_removed_lines")
    )
    joined = df.join(removed_pos, df[id_col] == removed_pos["id"], "left").drop(removed_pos["id"])
    # Rebuild from the ORIGINAL lines: a raw line at position i maps to
    # normalized position = count of non-blank trimmed lines before it;
    # blank lines (never hashed) always survive.
    norm_pos = lambda i: F.size(  # noqa: E731
        F.filter(F.slice(all_lines, F.lit(1), i), lambda x: F.trim(x) != F.lit(""))
    )
    kept = F.filter(
        all_lines,
        lambda l, i: (F.trim(l) == F.lit(""))
        | ~F.array_contains(F.coalesce(F.col("_rm"), F.array().cast("array<int>")), norm_pos(i)),
    )
    return joined.select(
        *[F.col(c) for c in df.columns],
        F.when(F.col("_rm").isNull(), F.col(text_col))
        .otherwise(F.concat_ws("\n", kept))
        .alias("cleaned_text"),
        F.coalesce(F.col("n_removed_lines"), F.lit(0)).cast("long").alias("n_removed_lines"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm) at word grain: hash every
    k-token gram, slide a window of w consecutive hashes, keep each
    window's minimum (ties → rightmost).  GUARANTEE: two documents
    sharing any passage of ≥ w + k − 1 tokens share at least one
    fingerprint; expected density is 2/(w+1) — the tunable sweet spot
    between every-window indexing (`build_window_index`, 1 row per
    window) and MinHash (constant rows per doc, but no substring
    guarantee).

    Returns (id, pos, fp): the selected 0-based gram position and its
    60-bit hash (first 15 md5 hex digits — orderable, engine-portable).

    Spark shape: the hash array, the sliding argmin, and the distinct
    all run IN-ROW over the document's own token array (JVM
    higher-order expressions — O(n·w) comparisons per doc, no Python,
    no token-grain shuffle anywhere); only the selected ~2n/(w+1)
    fingerprints explode into rows.  Documents with fewer than w
    grams winnow as a single window (their global min) so short docs
    still fingerprint."""
    if k < 2:
        raise ValueError("gram size k must be ≥ 2 tokens")
    if w < 2:
        raise ValueError("window size w must be ≥ 2 hashes")
    toks = _tokens(F.col(text_col))
    hs_expr = F.transform(
        _word_ngrams(toks, k),
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    # the explode(array(...)) barrier pins ONE evaluation of the hash
    # array: the sliding argmin below references it O(n·w) times, and
    # higher-order lambdas defeat Catalyst's subexpression elimination
    # — inlined, every reference would re-tokenize and re-hash the
    # document (same trick/rationale as ngram_jaccard_pairs)
    base = spread(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(F.array(hs_expr)).alias("hs")
    )
    hs = F.col("hs")
    n = F.size(hs)
    m = F.greatest(n - F.lit(w - 1), F.lit(1))  # number of windows
    # r12 zip-slice argmin: w shifted slices of the hash array zipped
    # once — window j is the struct (hs[j], …, hs[j+w−1]) — replacing
    # the O(n·w) interpreted aggregate-fold (per-window sequence
    # allocation + element_at chain).  fp = least(...) skips the NULL
    # padding arrays_zip adds for docs with fewer than w grams (their
    # single window is the global min, as before); the rightmost-tie
    # contract is the when-chain CHECKED FROM THE RIGHT (t_{w-1}
    # first), and a padded NULL slot compares NULL == fp → false, so
    # short docs fall through to the real slots.  Values pinned
    # identical to the fold (hash + edge fixtures incl. all-equal and
    # <w-gram docs); measured 0.26 → 0.19 s on the sf0.1 corpus and
    # O(n·w) → O(n) struct work per document.
    zipped = F.arrays_zip(
        *[F.slice(hs, 1 + i, m).alias(f"t{i}") for i in range(w)]
    )

    def pick(g, j):
        fp = F.least(*[g[f"t{i}"] for i in range(w)])
        chain = F.when(g[f"t{w-1}"] == fp, F.lit(w - 1))
        for i in range(w - 2, 0, -1):
            chain = chain.when(g[f"t{i}"] == fp, F.lit(i))
        return F.struct(
            fp.alias("fp"),
            (j + chain.otherwise(F.lit(0))).cast("int").alias("pos"),
        )

    sel = F.when(
        n > 0,
        F.array_distinct(F.transform(zipped, pick)),
    ).otherwise(F.array().cast("array<struct<fp:bigint,pos:int>>"))
    return base.select("id", F.explode(sel).alias("s")).select(
        "id", F.col("s.pos").alias("pos"), F.col("s.fp").alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ min_shared winnowing fingerprints —
    MOSS-style overlap candidates with the substring guarantee
    (any shared ≥ w+k−1-token passage produces a pair).

    Inverted-index shape (the ngram_jaccard_pairs plan): posting list
    per fingerprint, upper-triangle expansion inside the list, one
    count per pair — shuffles scale with postings (~2n/(w+1) per doc),
    never n².  `max_fp_df` caps hot posting lists (corpus-wide
    boilerplate) exactly like max_gram_df.  Pass `fps` to reuse a
    winnow_fingerprints output.  Returns (id_a, id_b, shared_fps)."""
    if fps is None:
        fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    postings = (
        fps.select("id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_fp_df is not None:
        postings = postings.filter(F.size("ids") <= max_fp_df)
    pairs = postings.selectExpr("ids", "posexplode(ids) AS (p, a)").selectExpr(
        "a", "explode(slice(ids, p + 2, size(ids))) AS b"
    )
    return (
        pairs.selectExpr("least(a, b) AS id_a", "greatest(a, b) AS id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnow_pairs_incremental(
    shard: DataFrame,
    index_fps: DataFrame,
    k: int = 4,
    w: int = 4,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Incremental winnowing overlap for shard admission: pair a NEW
    shard's fingerprints against a persisted (id, pos, fp) index —
    shard×index plus shard×shard, never index×index (the
    minhash/simhash/phash 'inc' contract, substring-guarantee tier).

    Cost is O(|shard| fps + matched postings): the index side is
    pre-restricted by a semi-join on the shard's fingerprint values
    BEFORE pairing, so an ever-growing index contributes only rows
    that can actually pair (the lesson from
    semantic_neardup_incremental's sf1 fix).  Appending the shard's
    fps (same expression) keeps the index current.  Returns
    (id_a, id_b, shared_fps) for pairs touching the shard."""
    shard_fps = winnow_fingerprints(
        shard, k=k, w=w, text_col=text_col, id_col=id_col
    ).select("id", "fp").distinct()
    idx = index_fps.select("id", "fp").distinct()
    # only index postings whose fp occurs in the shard can pair
    idx_hits = idx.join(shard_fps.select("fp").distinct(), "fp", "left_semi")
    # re-admitted docs may sit in BOTH frames: collapse to one row per
    # (id, fp), keeping shard membership — otherwise a doc self-pairs
    both = (
        shard_fps.withColumn("_new", F.lit(1))
        .unionByName(idx_hits.withColumn("_new", F.lit(0)))
        .groupBy("id", "fp")
        .agg(F.max("_new").alias("_new"))
    )
    postings = (
        both.groupBy("fp")
        .agg(
            F.collect_list(F.struct("id", "_new")).alias("ids"),
            F.max("_new").alias("_any_new"),
        )
        .filter((F.size("ids") > 1) & (F.col("_any_new") == 1))
    )
    if max_fp_df is not None:
        postings = postings.filter(F.size("ids") <= max_fp_df)
    pairs = postings.selectExpr("ids", "posexplode(ids) AS (p, a)").selectExpr(
        "a", "explode(slice(ids, p + 2, size(ids))) AS b"
    ).filter("a._new = 1 OR b._new = 1")  # at least one shard member
    return (
        pairs.selectExpr("least(a.id, b.id) AS id_a", "greatest(a.id, b.id) AS id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnow_novelty(
    shard: DataFrame,
    index_fps: DataFrame | None,
    k: int = 4,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty against a winnowing fingerprint index: the
    ppm of a doc's DISTINCT fingerprints not already in the corpus —
    a graded admission signal where pair operators give a binary
    verdict (sample MORE from novel docs, less from near-boilerplate;
    the dedup-aware-sampling knob).

    One fingerprint pass over the shard + one left-semi-shaped join
    against the index (broadcast when the index's distinct-fp side is
    small, hash-join otherwise) + a per-doc count — corpus text is
    never read.  index_fps=None means a cold start: everything is
    novel.  Returns (id, n_fps, known_fps, novelty_ppm) with the ppm
    an exact integral div."""
    fps = winnow_fingerprints(
        shard, k=k, w=w, text_col=text_col, id_col=id_col
    ).select("id", "fp").distinct()
    if index_fps is None:
        hits = fps.limit(0).select("id", "fp")
    else:
        hits = fps.join(
            index_fps.select("fp").distinct(), "fp", "left_semi"
        )
    known = hits.groupBy("id").agg(F.count(F.lit(1)).alias("known_fps"))
    per_doc = (
        fps.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_fps"))
        .join(known, "id", "left")
        .select(
            "id",
            "n_fps",
            F.coalesce(F.col("known_fps"), F.lit(0)).cast("long").alias("known_fps"),
        )
    )
    return per_doc.select(
        "id", "n_fps", "known_fps",
        F.expr(
            "CAST((n_fps - known_fps) * 1000000 div greatest(n_fps, 1) AS BIGINT)"
        ).alias("novelty_ppm"),
    )


def novelty_weighted_sample(
    shard: DataFrame,
    index_fps: DataFrame | None,
    *,
    floor_ppm: int = 100_000,
    k: int = 4,
    w: int = 4,
    salt: str = "",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft dedup: keep each shard doc with probability proportional
    to its winnowing novelty (fully novel → always kept; a verbatim
    resubmission → kept at floor_ppm).  The graded alternative to
    hard near-dup removal — boilerplate-heavy docs are down-SAMPLED
    instead of binarily dropped, which is what mixture builders
    actually want for high-duplication web strata.

    Deterministic: the keep decision hashes (salt ‖ id) exactly like
    curation.hash_sample, so the same inputs and salt reproduce the
    same subset.  Returns the surviving docs + (novelty_ppm,
    keep_ppm)."""
    nov = winnow_novelty(
        shard, index_fps, k=k, w=w, text_col=text_col, id_col=id_col
    ).select("id", "novelty_ppm")
    joined = shard.join(
        nov, shard[id_col] == nov["id"], "left"
    ).drop(nov["id"])
    # docs too short to fingerprint have no novelty row: treat as novel
    keep_ppm = F.greatest(
        F.coalesce(F.col("novelty_ppm"), F.lit(1_000_000)),
        F.lit(int(floor_ppm)),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("bigint") % 1_000_000
    )
    return (
        joined.withColumn("keep_ppm", keep_ppm.cast("long"))
        .withColumn(
            "novelty_ppm",
            F.coalesce(F.col("novelty_ppm"), F.lit(1_000_000)).cast("long"),
        )
        .filter(bucket < F.col("keep_ppm"))
    )


def winnow_fps_py(text: str, k: int = 4, w: int = 4) -> list[tuple[int, int]]:
    """Pure-Python twin of winnow_fingerprints for one document
    (oracle/property side): identical tokenization, hashing, rightmost
    tiebreak, and short-doc single-window behavior.  Returns sorted
    (pos, fp)."""
    import hashlib
    import re

    toks = [t for t in re.split(r"\s+", (text or "").lower().strip()) if t]
    if len(toks) < k:
        return []
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    n = len(hs)
    out: set[tuple[int, int]] = set()
    for j in range(max(n - w + 1, 1)):
        je = min(j + w - 1, n - 1)
        best_h, best_i = hs[j], j
        for i in range(j + 1, je + 1):
            if hs[i] <= best_h:
                best_h, best_i = hs[i], i
        out.add((best_i, best_h))
    return sorted(out)


def build_window_index(
    corpus: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Persistable window-hash index of a corpus: one (whash) row per
    DISTINCT k-token window, 16 bytes each — the span-dedup analog of
    the MinHash/SimHash signature indexes the admission pipeline keeps.
    Write it once; `remove_corpus_spans` strips incoming shards against
    it without ever re-scanning corpus text, and appending the new
    shard's windows (same expression) keeps it current."""
    return _window_occurrences(corpus, k, text_col, id_col).select("whash").distinct()


def remove_corpus_spans(
    shard: DataFrame,
    window_index: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental passage dedup for shard admission: remove from each
    incoming document every span whose k-token windows ALREADY exist in
    the corpus window index (the corpus keeps its copy, so policy is
    implicitly keep-corpus).

    Cost is O(|shard| windows): one semi-join of the shard's window
    stream against the index (hash-distributed equi-join; the shard
    side is the small one), then the standard islands merge + in-row
    rewrite.  Corpus text is never touched — the index rows are the
    whole corpus footprint, mirroring minhash_lsh_pairs' index_sigs
    contract.  Output: shard columns + (cleaned_text,
    n_removed_tokens, n_spans)."""
    occ = _window_occurrences(shard, k, text_col, id_col)
    hits = occ.join(window_index.select("whash"), "whash", "left_semi")
    spans = _merge_islands(
        hits.select("id", "start", (F.col("start") + F.lit(k - 1)).alias("end"))
    )
    return remove_duplicated_spans(
        shard, k=k, text_col=text_col, id_col=id_col, policy="all", spans_df=spans
    )
