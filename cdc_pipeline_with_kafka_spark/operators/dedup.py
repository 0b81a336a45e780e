"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's link-level dedup (SURVEY.md §2.6 O7, J3 —
ArticleServiceImpl.java:131-134), these are the document-level dedup
strategies a 100 TB corpus pipeline needs:

- exact          : content-hash groupBy (one shuffle on a 16-byte key)
- ngram Jaccard  : inverted-index join on shingles — never an O(n²)
                   cross join; candidate pairs only share ≥1 shingle
- MinHash + LSH  : constant-size signatures; banding → bucket join so
                   candidate generation is linear in corpus size
- SimHash        : 64-bit fingerprint; near-dup = small Hamming distance

Hash functions are deterministic arithmetic over md5 (stable across
engines/runs — required for the DuckDB oracle and for re-runs over an
append-only corpus to be idempotent).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


from ..util import spread


def _md5_hash64(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of
    md5(salt || value) — reproducible in any engine with md5()."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def normalized_text(col: Column) -> Column:
    """Canonicalization before hashing: lowercase, collapse whitespace,
    trim — so trivial formatting differences don't defeat exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: normalized-content hash → groups with >1 doc.
    Returns (content_hash, dup_count, keep_id) where keep_id is the
    lowest id (the canonical survivor).  One shuffle on the hash key;
    group payload is ids only, not text."""
    hashed = df.select(
        F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
        F.col(id_col),
    )
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(id_col).alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (lowest id) per distinct normalized content."""
    w = Window.partitionBy(normalized_text(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def token_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram set (distinct) of the normalized text.

    Zip-slice construction (r12, same rewrite as minhash's gram path
    at :327 and textstats._word_ngrams): n shifted slices of the token
    array zipped once, one concat per struct — flat array ops instead
    of an interpreted slice-per-element `transform(sequence, ...)`
    lambda.  Gram ORDER is identical (position order), so the
    first-occurrence semantics of array_distinct are unchanged."""
    tokens = F.split(normalized_text(col), " ")
    count = F.size(tokens) - F.lit(n - 1)
    zipped = F.arrays_zip(
        *[F.slice(tokens, i + 1, count).alias(f"t{i}") for i in range(n)]
    )
    grams = F.when(
        count > 0,
        F.transform(
            zipped, lambda g: F.concat_ws(" ", *[g[f"t{i}"] for i in range(n)])
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard similarity ≥ threshold.

    Inverted-index formulation (no cross join): posting lists per gram,
    pair expansion inside each list.  Shuffles scale with total gram
    postings, not n².  Hot grams (stop phrases) are the skew risk at
    100 TB: `max_gram_df` drops posting lists longer than the cap
    (documents-with-stop-phrase pairs lose those grams' votes — a
    standard recall/cost trade; None keeps exact semantics).

    Threshold contract: a pair is emitted iff its TRUE Jaccard ≥
    threshold, decided by exact integer cross-multiplication
    (``shared·1e6 ≥ tp·(|a|+|b|−shared)`` with tp = round(t·1e6)) —
    never by comparing the rounded double, which would admit true J in
    [t−5e-7, t) and break identity with the prefix-filtered sibling
    (whose pruning assumes J ≥ t).  The `jaccard` output column is
    round(J, 6) for display only.
    """
    # Linear single-scan plan.  A self-join formulation reads the text
    # and rebuilds the gram pipeline once PER BRANCH (4× here — Spark
    # does not reuse the exchanges, verified on the executed plan);
    # instead, per-doc distinct gram sets carry their own size into the
    # posting lists, so sizes need no separate branch or re-join:
    #   scan → groupBy(id) collect_set → explode → groupBy(gram)
    #   posting list → in-bucket pair expansion → groupBy(pair) count
    # per-row array_distinct, not a groupBy(id)+collect_set: the doc's
    # gram set is computable without moving data — at 100 TB a shuffle
    # of every posting by id would dwarf the per-row dedup cost.  The
    # explode(array(...)) barrier pins ONE evaluation of the gram set,
    # which is then referenced by both size() and the posting explode.
    doc_sets = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array(token_ngrams(F.col(text_col), n))).alias("gs"),
        )
        .select("id", F.size("gs").alias("set_size"), F.explode("gs").alias("gram"))
    )
    postings = doc_sets.groupBy("gram").agg(
        F.collect_list(F.struct("id", "set_size")).alias("ms")
    ).filter(F.size("ms") > 1)
    if max_gram_df is not None:
        postings = postings.filter(F.size("ms") <= max_gram_df)
    # upper-triangle expansion: posexplode + slice emits each unordered
    # pair once — half the rows of a full m1×m2 expansion, no < filter.
    # selectExpr strings keep py4j plan-construction round-trips low
    # (see minhash_signatures).
    pairs = postings.selectExpr("ms", "posexplode(ms) AS (p, m1)").selectExpr(
        "m1", "explode(slice(ms, p + 2, size(ms))) AS m2"
    )
    shared = (
        pairs.selectExpr(
            "least(m1.id, m2.id) AS id_a",
            "greatest(m1.id, m2.id) AS id_b",
            "IF(m1.id < m2.id, m1.set_size, m2.set_size) AS size_a",
            "IF(m1.id < m2.id, m2.set_size, m1.set_size) AS size_b",
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    tp = int(round(threshold * 1_000_000))
    return shared.filter(
        F.expr(
            "CAST(shared AS BIGINT) * 1000000 >= "
            f"CAST({tp} AS BIGINT) * (size_a + size_b - shared)"
        )
    ).selectExpr(
        "id_a", "id_b",
        "round(shared / (size_a + size_b - shared), 6) AS jaccard",
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """AllPairs prefix-filtered EXACT Jaccard join (Bayardo, Ma &
    Srikant, WWW 2007; prefix filter per Chaudhuri, Ganti & Kaushik
    2006) — the SAME result rows as `ngram_jaccard_pairs` (word-n-gram
    Jaccard ≥ threshold, identical (id_a, id_b, jaccard) schema and
    values; the driver gate replays both against one brute-force
    oracle), via a candidate set that shrinks with the threshold
    instead of paying every shared-gram posting:

    1. order every doc's gram set by GLOBAL rarity — document
       frequency asc, gram asc: one total order shared by all docs;
    2. index only each doc's PREFIX, its |x| − ⌈t·|x|⌉ + 1 rarest
       grams.  Lossless by the prefix lemma: J(x,y) ≥ t forces
       |x∩y| ≥ t·|x∪y| ≥ max(⌈t|x|⌉, ⌈t|y|⌉), and two sets sharing
       that many elements share their FIRST common gram (in the
       global order) at position ≤ |x|−⌈t|x|⌉+1 in x and
       ≤ |y|−⌈t|y|⌉+1 in y — inside both prefixes;
    3. pair docs inside each prefix-gram posting list (upper-triangle
       posexplode), size-filtered (min·1e6 ≥ t·max, since
       J ≤ min/max) and deduped on the pair key;
    4. verify each candidate EXACTLY — array_intersect over the full
       gram sets, integer cross-multiplication
       ``|∩|·1e6 ≥ tp·(|a|+|b|−|∩|)`` (the same exact predicate the
       sibling uses; comparing the ROUNDED double would admit true J
       in [t−5e-7, t), which the prefix/size pruning — correctly —
       assumes away, silently breaking result identity on boundary
       pairs).  The `jaccard` output column is round(J, 6) display.

    vs `ngram_jaccard_pairs`: the sibling aggregates EVERY shared-gram
    occurrence (cost Σ|posting|² over ALL grams — right at low
    thresholds or dense pair sets); this one touches only prefix
    postings.  At t = 0.8 a 100-gram doc indexes 21 grams, and stop
    phrases almost never land in a prefix (most frequent ⇒ LAST in
    the rarity order), so the hot-posting skew class the sibling caps
    with `max_gram_df` is pruned here by construction — with no
    recall loss.  Cost: one gram-keyed shuffle (document
    frequencies), one id-keyed sort-collect, one prefix-posting
    expansion, and a candidates-sized verify join against the
    (id → gram set) table; the ordered gram sets are pinned once
    (lazy localCheckpoint) so the posting and verify branches don't
    re-run the collect."""
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    tp = int(round(threshold * 1_000_000))
    doc_sets = (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array(token_ngrams(F.col(text_col), n))).alias("gs"),
        )
        .select("id", F.size("gs").alias("sz"), F.explode("gs").alias("gram"))
    )
    # document frequency via a gram-partitioned WINDOW, not a
    # groupBy+join-back: one pass over the gram rows at gram
    # partitioning (grams are per-doc distinct, so the window count IS
    # the df), the text/gram pipeline evaluates ONCE, and the join's
    # second gram shuffle disappears — measured 13.6→11.6 s at sf0.1,
    # 14.9→11.1 s at sf1 (still flat across 10× data)
    from pyspark.sql.window import Window as _W

    ranked = (
        doc_sets.withColumn(
            "gdf", F.count(F.lit(1)).over(_W.partitionBy("gram"))
        )
        .groupBy("id", "sz")
        .agg(
            F.sort_array(F.collect_list(F.struct("gdf", "gram"))).alias(
                "ordered"
            )
        )
    )
    # ceil(t·sz) in exact ppm integers; prefix = sz − ceil(t·sz) + 1
    # (≥ 1 whenever sz ≥ 1 since t ≤ 1)
    with_prefix = ranked.select(
        "id",
        "sz",
        F.expr("transform(ordered, x -> x.gram)").alias("toks"),
        F.expr(
            "transform(slice(ordered, 1, greatest(CAST(sz - "
            f"((CAST({tp} AS BIGINT) * sz + 999999) div 1000000)"
            " + 1 AS INT), 0)), x -> x.gram)"
        ).alias("pref"),
    ).localCheckpoint(eager=False)
    plist = (
        with_prefix.select("id", "sz", F.explode("pref").alias("gram"))
        .groupBy("gram")
        .agg(F.collect_list(F.struct("id", "sz")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = plist.selectExpr("ms", "posexplode(ms) AS (p, m1)").selectExpr(
        "m1", "explode(slice(ms, p + 2, size(ms))) AS m2"
    )
    cand = (
        pairs.filter(
            F.expr(
                "CAST(least(m1.sz, m2.sz) AS BIGINT) * 1000000 >= "
                f"CAST({tp} AS BIGINT) * greatest(m1.sz, m2.sz)"
            )
        )
        .selectExpr(
            "least(m1.id, m2.id) AS id_a", "greatest(m1.id, m2.id) AS id_b"
        )
        .distinct()
    )
    a = with_prefix.select(
        F.col("id").alias("id_a"), F.col("toks").alias("toks_a")
    )
    b = with_prefix.select(
        F.col("id").alias("id_b"), F.col("toks").alias("toks_b")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("inter", F.size(F.array_intersect("toks_a", "toks_b")))
        .filter(
            F.expr(
                "CAST(inter AS BIGINT) * 1000000 >= "
                f"CAST({tp} AS BIGINT)"
                " * (size(toks_a) + size(toks_b) - inter)"
            )
        )
        .selectExpr(
            "id_a",
            "id_b",
            "round(inter / (size(toks_a) + size(toks_b) - inter), 6)"
            " AS jaccard",
        )
    )


# Mersenne prime 2^31-1: affine rehash domain.  a*h+b stays < 2^62, no
# 64-bit overflow.
_MINHASH_P = (1 << 31) - 1


def _minhash_params(i: int) -> tuple[int, int]:
    """Deterministic affine coefficients for hash function i (shared by
    the pure-Python test reference)."""
    a = (i * 2654435761 + 1) % _MINHASH_P or 1
    b = (i * 40503 + 7) % _MINHASH_P
    return a, b


def gram_rows(
    df: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exploded (id, gram) word-n-gram rows WITHOUT per-doc dedup.

    Zip-slice construction: n shifted slices of the token array are
    zipped and each struct concatenated after the explode — flat
    codegen-friendly expressions instead of a per-element interpreted
    `transform` lambda (~2× faster at scan time).  Duplicate grams are
    kept; use this where downstream aggregation is duplicate-
    insensitive (e.g. MinHash `min`)."""
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    if n == 1:
        return spread(df, id_col).select(
            F.col(id_col).alias("id"), F.explode(toks).alias("gram")
        )
    zipped = F.arrays_zip(
        *[F.slice(toks, i + 1, cnt).alias(f"t{i}") for i in range(n)]
    )
    return (
        spread(df, id_col)
        .select(F.col(id_col).alias("id"), F.explode(zipped).alias("g"))
        .select("id", F.concat_ws(" ", *[f"g.t{i}" for i in range(n)]).alias("gram"))
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures: one md5 base hash per gram, `num_hashes`
    affine rehashes (a_i·h+b_i mod 2³¹−1), min per doc.

    One hash computation per gram instead of num_hashes — the md5 is
    the expensive part; affine rehash is three integer ops.  Grams are
    NOT deduped first: `min` is duplicate-insensitive, and skipping
    `array_distinct` keeps the scan stage pure codegen.  Output:
    (id, sig: array<long>[num_hashes]) — a constant-size sketch,
    corpus-size-independent, which is what makes near-dup feasible at
    100 TB."""
    grams = gram_rows(df, shingle_n, text_col, id_col)
    base = grams.select("id", (_md5_hash64(F.col("gram")) % _MINHASH_P).alias("h"))
    # the whole signature is ONE SQL aggregate expression: composing
    # hundreds of Column objects costs one py4j round-trip per operator
    # (~1 s of pure driver time for a 16-hash tree); a single
    # array(min(...), ...) expr is one call and one less projection
    mins = ", ".join(
        "min((h * {a} + {b}) % {p})".format(a=a, b=b, p=_MINHASH_P)
        for a, b in (_minhash_params(i) for i in range(num_hashes))
    )
    return base.groupBy("id").agg(F.expr(f"array({mins})").alias("sig"))


def _blocked_pairs(
    new: DataFrame,
    index: DataFrame | None,
    keys: list[str],
    block_eq: Callable[[int], str],
    score: str,
    keep: Column,
    group_cols: Sequence[str] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Blocked near-dup pair search, the engine behind
    `minhash_lsh_pairs`, `simhash_pairs` and `multimodal.phash_pairs`.

    ``new`` holds one row per item: ``id``, the sketch column(s) the
    SQL strings read, and ``group_cols`` (which join the bucket key, so
    items pair only within their group).  Item x lands in bucket
    (i, ``keys[i]``(x)) for every block i; ``block_eq(i)`` is the SQL
    predicate over the pair structs ``m1``/``m2`` that holds iff both
    share block i's key.  ``score`` ("<expr> AS <name>") is computed
    per candidate pair and ``keep`` filters on it.  Returns
    (id_a = least id, id_b = greatest id, <name>).

    ``index`` (same columns) is persisted corpus state: with it, only
    pairs touching at least one ``new`` row come back — new↔index and
    new↔new — the full-corpus pairs restricted to the new rows.  None
    (cold start) pairs ``new`` with itself.

    Pairs via groupBy(bucket) + in-bucket expansion, NOT a self-join:
    a self-join would recompute the sketch pipeline for each side
    (Spark does not share subplans), doubling the dominant cost.  This
    shuffles block entries once (the same exchange the join would
    need).  A pair agreeing on k blocks appears in k buckets; instead
    of a dropDuplicates exchange it is kept only in its FIRST matching
    block — computable locally because both sketches are in the row.
    Hot buckets are inherently quadratic in either formulation;
    ``max_bucket`` drops buckets larger than the cap from pairing."""
    grp = list(group_cols)
    payload = [c for c in new.columns if c not in grp]
    fit = F.size("ms") > 1
    if index is not None:
        new = index.withColumn("is_new", F.lit(False)).unionByName(
            new.withColumn("is_new", F.lit(True))
        )
        payload.append("is_new")
        fit = fit & F.expr("exists(ms, m -> m.is_new)")
    if max_bucket is not None:
        fit = fit & (F.size("ms") <= max_bucket)
    structs = ", ".join(
        f"named_struct('blk', {i}, 'key', {k})" for i, k in enumerate(keys)
    )
    cols = new.columns
    buckets = (
        new.select(*cols, F.expr(f"explode(array({structs}))").alias("e"))
        .select(*cols, "e.blk", "e.key")
        .groupBy("blk", "key", *grp)
        .agg(F.collect_list(F.struct(*payload)).alias("ms"))
        .filter(fit)
    )
    # upper-triangle expansion (posexplode + slice): each unordered pair
    # once, half the rows, no < filter
    pairs = (
        buckets.select("blk", "ms", F.posexplode("ms").alias("p", "m1"))
        .select("blk", "m1",
                F.explode(F.slice("ms", F.col("p") + 2, F.size("ms"))).alias("m2"))
    )
    if index is not None:
        pairs = pairs.filter(F.expr("m1.is_new OR m2.is_new"))
    last = len(keys) - 1
    first_block_sql = (
        "CASE "
        + " ".join(f"WHEN {block_eq(i)} THEN {i}" for i in range(last))
        + f" ELSE {last} END"
    )
    return (
        pairs.filter(F.expr(f"blk = ({first_block_sql})"))
        .selectExpr("least(m1.id, m2.id) AS id_a", "greatest(m1.id, m2.id) AS id_b", score)
        .filter(keep)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup candidate pairs, verified by estimated
    Jaccard (signature agreement rate) ≥ threshold.

    Banding: split the signature into `bands` bands of r rows; docs
    agreeing on ALL rows of any band land in the same bucket →
    candidates come from a groupBy on (band, band key), linear scale.

    ``index_sigs`` is a persisted corpus signature index (id_col, sig),
    a prior `minhash_signatures` output.  With it, `df` is a NEW shard
    (the daily-ingest pattern — at 100 TB you never re-sketch the
    corpus to admit a day's data): signatures are computed only for
    `df`, and the pairs returned are the full-corpus pairs that touch
    at least one shard doc (asserted in tests).  The index side
    contributes only a band-explode of its constant-size signatures —
    no text scan, no gram hashing.  None (cold start) pairs `df` with
    itself.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sigs = minhash_signatures(df, num_hashes, shingle_n, text_col, id_col)
    index = None if index_sigs is None else index_sigs.selectExpr(f"{id_col} AS id", "sig")
    # band key = struct of the band's signature values — exact equality
    # (no hash-collision false pairs), no md5 or key-string
    # materialization.  Built as SQL strings (see minhash_signatures on
    # py4j construction cost).
    keys = [
        "named_struct({})".format(", ".join(f"'k{j}', sig[{b * r + j}]" for j in range(r)))
        for b in range(bands)
    ]

    def band_eq(b: int) -> str:
        return " AND ".join(f"m1.sig[{b * r + j}] = m2.sig[{b * r + j}]" for j in range(r))

    # flat positional sum instead of a zip_with/aggregate fold: HOF
    # lambdas are interpreted per element; 16 unrolled comparisons stay
    # in codegen
    matches = " + ".join(
        f"(CASE WHEN m1.sig[{i}] = m2.sig[{i}] THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return _blocked_pairs(
        sigs, index, keys, band_eq,
        f"round(({matches}) / {float(num_hashes)}D, 6) AS est_jaccard",
        F.col("est_jaccard") >= threshold,
    )


def token_hashes(col: Column, salt: str = "sh:") -> Column:
    """Distinct word tokens → 60-bit hash array (the SimHash input)."""
    tokens = F.array_distinct(F.split(normalized_text(col), " "))
    return F.transform(tokens, lambda t: _md5_hash64(t, salt=salt))


def simhash_from_hashes(hashes: Column | str) -> Column:
    """SimHash fingerprint from a precomputed hash array: each bit
    position accumulates +1/−1 votes across tokens; fingerprint bit =
    sign.  IMPORTANT: pass a MATERIALIZED column (e.g. produced behind
    an explode barrier) — this expression references `hashes` 60 times,
    and projection collapse would otherwise recompute the md5 per
    token per bit."""
    # Accepts a column NAME (string) or a Column.  The string form
    # builds the whole 60-bit fold as ONE SQL string — the Column form
    # costs ~400 py4j round-trips (one per operator) and dominates
    # driver-side plan construction time.  Bitwise-OR of disjoint masks
    # is written as + (equivalent, and sums fold flat in SQL).
    if isinstance(hashes, str):
        terms = " + ".join(
            f"(CASE WHEN aggregate({hashes}, 0, (acc, h) -> acc +"
            f" (CASE WHEN (h & {1 << bit}) != 0 THEN 1 ELSE -1 END)) > 0"
            f" THEN {1 << bit} ELSE 0 END)"
            for bit in range(60)
        )
        return F.expr(f"CAST(({terms}) AS BIGINT)")
    # F.shiftleft needs a literal bit count, so build per-bit masks as
    # python ints (exact long literals, no float detour)
    fingerprint = F.lit(0).cast("long")
    for bit in range(60):
        mask = F.lit(1 << bit).cast("long")
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        )
        fingerprint = fingerprint.bitwiseOR(F.when(vote > 0, mask).otherwise(F.lit(0).cast("long")))
    return fingerprint


def simhash64(col: Column, salt: str = "sh:") -> Column:
    """64-bit SimHash as a single column expression (convenience form —
    for bulk scans prefer token_hashes + an explode barrier +
    simhash_from_hashes, as simhash_fingerprints does)."""
    return simhash_from_hashes(token_hashes(col, salt))


def _hamming_pairs(
    new: DataFrame,
    index: DataFrame | None,
    bits: int,
    blocks: int,
    max_hamming: int,
    group_cols: Sequence[str] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs of `bits`-bit integer sketches (``id``, ``fp``) within
    Hamming distance ≤ max_hamming, by pigeonhole blocking: split the
    sketch into `blocks` disjoint slices of bits // blocks bits; a pair
    within distance < blocks agrees on at least one slice (guaranteed
    recall there, LSH-grade recall above), then exact popcount
    verification.  `index`, `group_cols` and `max_bucket` as in
    `_blocked_pairs`."""
    width = bits // blocks
    mask = (1 << width) - 1

    def key(i: int, fp: str = "fp") -> str:
        return f"shiftright({fp}, {i * width}) & {mask}"

    return _blocked_pairs(
        new, index, [key(i) for i in range(blocks)],
        lambda i: f"({key(i, 'm1.fp')}) = ({key(i, 'm2.fp')})",
        "bit_count(m1.fp ^ m2.fp) AS hamming", F.col("hamming") <= max_hamming,
        group_cols, max_bucket,
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    blocks: int = 4,
    index_fps: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming,
    pigeonhole-blocked over `blocks` 60 // blocks-bit slices of the
    fingerprint (`_hamming_pairs`).  Linear candidate generation.

    ``index_fps`` is a persisted fingerprint index (id_col, fp), a
    prior `simhash_fingerprints` output (8 bytes per doc).  With it,
    `df` is a NEW shard: fingerprints are computed only for `df`, and
    the pairs returned are the full-corpus pairs that touch at least
    one shard doc (asserted in tests).  None (cold start) pairs `df`
    with itself."""
    fps = simhash_fingerprints(df, text_col, id_col).selectExpr(f"{id_col} AS id", "fp")
    index = None if index_fps is None else index_fps.selectExpr(f"{id_col} AS id", "fp")
    return _hamming_pairs(fps, index, 60, blocks, max_hamming)


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, fp) SimHash fingerprint table — what `simhash_pairs`
    blocks on, and the ``index_fps`` it takes when persisted (8 bytes
    per doc on disk).  Generate barrier: hash each token once, then
    fold 60 bit-votes over the materialized array (see
    simhash_from_hashes)."""
    hashed = spread(df, id_col).select(
        F.col(id_col),
        F.explode(F.array(token_hashes(F.col(text_col)))).alias("_hashes"),
    )
    return hashed.select(F.col(id_col), simhash_from_hashes("_hashes").alias("fp"))


def verify_pairs_edit_distance(
    pairs: DataFrame,
    docs: DataFrame,
    max_rel_dist: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Exact verification pass for near-dup CANDIDATE pairs: join the
    texts back and keep pairs whose normalized Levenshtein distance is
    ≤ max_rel_dist of the longer text.  Sketches (MinHash/SimHash)
    answer 'probably similar'; this answers 'actually similar' — the
    standard candidate → verify split, run only on the sketch output.

    Scale shape: the pair list is tiny relative to the corpus, so the
    two text joins are semi-join-pruned lookups, and the JVM
    `levenshtein(a, b, threshold)` form SHORT-CIRCUITS: it returns -1
    as soon as the running distance exceeds the per-pair budget
    (`ceil(max_len·max_rel_dist)` — the cheap upper bound), and a
    final `rel_dist <= max_rel_dist` filter enforces the exact
    contract the ceil budget alone would leak (e.g. max_len=7,
    budget ceil(1.4)=2 admits rel_dist≈0.286).  The levenshtein
    expression is computed ONCE per row in an inner projection.
    Output: (id_a, id_b, edit_dist, rel_dist) for surviving pairs."""
    ta = docs.select(F.col(id_col).alias(id_a), F.col(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias(id_b), F.col(text_col).alias("_tb"))
    joined = pairs.select(id_a, id_b).join(ta, id_a).join(tb, id_b)
    max_len = F.greatest(F.length("_ta"), F.length("_tb"))
    # per-row threshold needs the SQL form — the Python F.levenshtein
    # wrapper only accepts a literal int budget
    dist = F.expr(
        "levenshtein(_ta, _tb, CAST(ceil(greatest(length(_ta), length(_tb))"
        f" * {float(max_rel_dist)}) AS INT))"
    )
    return (
        joined.select(id_a, id_b, dist.alias("edit_dist"), max_len.alias("_ml"))
        .filter((F.col("edit_dist") >= 0) | (F.col("_ml") == 0))
        .withColumn("edit_dist", F.greatest(F.col("edit_dist"), F.lit(0)))
        .withColumn(
            "rel_dist",
            F.when(F.col("_ml") > 0, F.round(F.col("edit_dist") / F.col("_ml"), 6))
            .otherwise(F.lit(0.0)),
        )
        .filter(F.col("rel_dist") <= F.lit(float(max_rel_dist)))
        .drop("_ml")
    )


# ---------------------------------------------------------------- clustering


# min-label rounds before contracting to large-star/small-star: enough
# for the small dense clusters near-dup graphs normally form
LABEL_ROUNDS = 4
# star rounds are O(log n) on any shape; hitting this bound raises
STAR_ROUNDS = 30


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, cluster_id)
    with cluster_id = the minimum id reachable from each node.

    This is the step that turns pairwise near-dup evidence (Jaccard /
    MinHash / SimHash / embedding pairs) into dedup GROUPS so a single
    canonical survivor can be chosen per group — without it, A~B and
    B~C dedup to two overlapping pairs instead of one {A,B,C} cluster.

    Spark-first, no graph library.  Up to LABEL_ROUNDS rounds of
    min-label propagation first (each node takes min(own label,
    neighbors' labels); stop when a round changes nothing): cheapest
    per round, and the small dense clusters near-dup graphs normally
    form converge within the budget.  If it has not converged, every
    node is CONTRACTED to its current label and the contracted graph
    is finished with large-star / small-star (`_star_components`,
    O(log n) rounds on any shape), so a 10,000-hop chain of chained
    near-dups terminates in logarithmic rounds instead of diameter
    rounds.  The label rounds are not wasted: contraction shrinks
    every already-collapsed cluster to a single node before star
    starts.

    Correctness of the handoff: each node's interim label is the min id
    of SOME reachable subset containing itself, so the set of interim
    labels within a component always contains the component minimum,
    and contracting edges through labels preserves connectivity; star's
    min over contracted nodes is therefore the true component min.

    `localCheckpoint` truncates lineage each round so the plan does not
    grow with iterations — the standard Spark iterative-algorithm
    pattern.  Each round is one shuffle of the EDGE list (grouped
    min-agg), never a cross join."""
    edges, labels = _init_label_graph(pairs, id_a, id_b)
    labels, converged = _propagate_min_labels(edges, labels, LABEL_ROUNDS)
    if converged:
        return labels
    lu = labels.select(F.col("id").alias("src"), F.col("cluster_id").alias("_lu"))
    lv = labels.select(F.col("id").alias("dst"), F.col("cluster_id").alias("_lv"))
    contracted = (
        edges.join(lu, "src")
        .join(lv, "dst")
        .filter(F.col("_lu") != F.col("_lv"))
        .select(F.col("_lu").alias("u"), F.col("_lv").alias("v"))
    )
    star = _star_components(contracted).select(
        F.col("id").alias("cluster_id"), F.col("cluster_id").alias("_final")
    )
    return labels.join(star, "cluster_id", "left").select(
        "id", F.coalesce("_final", "cluster_id").alias("cluster_id")
    )


def _init_label_graph(pairs: DataFrame, id_a: str, id_b: str):
    """Bidirectional edge list + identity labels, both checkpointed."""
    edges = (
        pairs.selectExpr(f"{id_a} AS src", f"{id_b} AS dst")
        .union(pairs.selectExpr(f"{id_b} AS src", f"{id_a} AS dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    return edges, labels


def _propagate_min_labels(edges: DataFrame, labels: DataFrame, rounds: int):
    """Run up to `rounds` min-label rounds; returns (labels, converged)."""
    converged = False
    for _ in range(rounds):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            # lazy: the `changed` probe below is the round's action and
            # materializes the checkpoint in the same job (r13 — the
            # eager form paid a separate ~0.4 s job per round)
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    return labels, converged


def _star_components(pairs: DataFrame) -> DataFrame:
    """Connected components of a (u, v) edge list (no self-loops) by alternating
    large-star / small-star contraction (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', SoCC 2014): O(log n) ROUNDS
    regardless of graph shape, vs min-label propagation's diameter
    rounds.

    Per round: large-star hangs every neighbor LARGER than the center
    off the center's minimum; small-star re-hangs the not-larger
    neighbors.  Fixed point = every component is a star around its
    minimum id.  Output (id, cluster_id = component min); raises if
    STAR_ROUNDS rounds do not reach the fixed point."""
    E = (
        pairs.selectExpr("least(u, v) AS u", "greatest(u, v) AS v")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame):
        # decimal(38) accumulator: a long sum of xxhash64 values
        # overflows int64 (ANSI mode makes that a hard error)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(E)
    for _ in range(STAR_ROUNDS):
        # large-star: center u over BOTH directions; m = min(Γ(u) ∪ u);
        # every neighbor v > u re-hangs onto m
        bi = E.union(E.selectExpr("v AS u", "u AS v"))
        mins = bi.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.withColumn("m", F.least("_mn", F.col("u")))
        large = (
            bi.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .selectExpr("v AS a", "m AS b")
            .filter(F.col("a") != F.col("b"))
        )
        # small-star: center = the larger endpoint; all neighbors ≤ c
        # (and c itself) re-hang onto the minimum neighbor
        canon = large.selectExpr("greatest(a, b) AS c", "least(a, b) AS w")
        smins = canon.groupBy("c").agg(F.min("w").alias("m"))
        small = (
            canon.join(smins, "c")
            .filter(F.col("w") != F.col("m"))
            .selectExpr("w AS a", "m AS b")
            .union(smins.selectExpr("c AS a", "m AS b"))
        )
        E = (
            small.selectExpr("least(a, b) AS u", "greatest(a, b) AS v")
            .distinct()
            # lazy: the checksum below is the round's action and
            # materializes the checkpoint in the same job (r13)
            .localCheckpoint(eager=False)
        )
        cur = _checksum(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {STAR_ROUNDS} "
            "star rounds"
        )
    # fixed point: every edge is (component_min, member)
    members = E.selectExpr("v AS id", "u AS cluster_id")
    centers = E.select(F.col("u").alias("id")).distinct().withColumn(
        "cluster_id", F.col("id")
    )
    return members.union(centers).distinct()


def connected_components_incremental(
    new_pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Admit a SHARD of new near-dup pairs against a PERSISTED
    component assignment (id, cluster_id — a prior
    connected_components output) without recomputing the full graph:
    the incremental member the component tier was missing
    (minhash/simhash/phash/semantic/winnow all have `_incremental`
    twins; this closes the family).

    Exactness: cluster_id is always the MINIMUM id reachable, so
    contracting the old graph to its labels loses nothing — each
    label IS the min of its old component, and the min over a merged
    set of components equals the min over their labels.  Therefore
    incremental ≡ full recompute over old ∪ new pairs, EXACTLY
    (held in tests at boundary shard splits).

    Per-shard cost: two broadcast-or-shuffle joins to map the shard's
    endpoints through the label table, then components over the
    CONTRACTED graph — whose size is bounded by the shard's edge
    count, never the corpus graph.  The persisted table updates with
    one join against the (tiny) label-remap."""
    remap = _contracted_remap(new_pairs, labels, id_a, id_b)
    # old ids: relabel through the remap (labels untouched by the shard
    # pass through); new ids: their contracted label, remapped
    old_rows = labels.join(
        F.broadcast(remap), labels["cluster_id"] == F.col("_old"), "left"
    ).select(
        "id", F.coalesce("_new", "cluster_id").alias("cluster_id")
    )
    new_rows = _new_node_rows(new_pairs, labels, remap, id_a, id_b)
    return old_rows.unionByName(new_rows)


def connected_components_delta(
    new_pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The DELTA of `connected_components_incremental`: only the label
    rows the shard CHANGES — new nodes plus old nodes whose component
    relabels (merged by a bridging pair).  Applying the delta over the
    prior table with last-writer-wins reproduces the incremental
    (hence the full-recompute) table exactly — held in tests.

    This is the O(batch) WRITE path for a long-running component
    stream: the full snapshot form rewrites nodes-seen-so-far rows per
    batch (O(corpus) write amplification); the delta is bounded by the
    batch's touched components.  Compute cost is the same contraction
    as the incremental form (the labels scan happens either way); only
    the output shrinks: relabeled rows come from a broadcast inner
    join against the CHANGED remap entries (_old != _new), never the
    identity remaps."""
    remap = _contracted_remap(new_pairs, labels, id_a, id_b)
    changed = remap.filter(F.col("_old") != F.col("_new"))
    relabeled = labels.join(
        F.broadcast(changed), labels["cluster_id"] == F.col("_old")
    ).select("id", F.col("_new").alias("cluster_id"))
    new_rows = _new_node_rows(new_pairs, labels, remap, id_a, id_b)
    return relabeled.unionByName(new_rows)


def _contracted_remap(
    new_pairs: DataFrame,
    labels: DataFrame,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """(_old, _new) label remap shared by the incremental and delta
    forms: map the shard's endpoints through the label table, run
    components over the contracted (shard-edge-bounded) graph."""
    lbl_a = labels.select(
        F.col("id").alias(id_a), F.col("cluster_id").alias("_la")
    )
    lbl_b = labels.select(
        F.col("id").alias(id_b), F.col("cluster_id").alias("_lb")
    )
    contracted = (
        new_pairs.select(id_a, id_b)
        .join(lbl_a, id_a, "left")
        .join(lbl_b, id_b, "left")
        .select(
            F.coalesce("_la", F.col(id_a)).alias("id_a"),
            F.coalesce("_lb", F.col(id_b)).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    return connected_components(contracted).withColumnRenamed(
        "id", "_old"
    ).withColumnRenamed("cluster_id", "_new")


def _new_node_rows(
    new_pairs: DataFrame,
    labels: DataFrame,
    remap: DataFrame,
    id_a: str,
    id_b: str,
) -> DataFrame:
    """Label rows for shard nodes absent from the prior table: their
    contracted label remapped, or themselves when isolated."""
    new_nodes = (
        new_pairs.select(F.col(id_a).alias("id"))
        .unionByName(new_pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    return new_nodes.join(
        F.broadcast(remap), F.col("id") == F.col("_old"), "left"
    ).select("id", F.coalesce("_new", F.col("id")).alias("cluster_id"))


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str | None = None,
) -> DataFrame:
    """Cluster the near-dup pairs and mark one canonical survivor per
    cluster.  Docs in no pair are their own singleton cluster.
    Output: docs + (cluster_id, is_canonical).

    Survivor policy: default = lowest id (zero extra shuffle —
    is_canonical is just cluster_id == id).  `score_col` = keep the
    HIGHEST-scoring member instead (ties → lowest id) — what
    production pipelines actually want: of a duplicate cluster, keep
    the longest / highest-quality / most-recent copy, not whichever
    crawled first.  The winner election runs on the PAIR-GRAPH-sized
    membership table (max_by aggregate), never a corpus-wide window —
    the corpus pays only the same final left join.

    Clusters come from `connected_components` (min-label rounds with
    early exit, then star contraction for long chains), so any pair
    graph shape converges.

    Scale shape: components run over the PAIR graph only (tiny relative
    to the corpus); the final assignment is one left join back to the
    corpus on the doc id."""
    comp = connected_components(pairs, id_a, id_b)
    if score_col is None:
        return docs.join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        ).select(
            *docs.columns,
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            (F.coalesce("cluster_id", F.col(id_col)) == F.col(id_col)).alias("is_canonical"),
        )
    # quality policy: elect argmax(score, then lowest id) per cluster
    # over the membership table only (singletons stay self-canonical)
    members = comp.join(
        docs.select(F.col(id_col).alias("id"), F.col(score_col).alias("_score")),
        "id",
    )
    winners = members.groupBy("cluster_id").agg(
        # NULL scores sort below every real score (max_by skips rows
        # whose ordering struct contains a NULL — a cluster of
        # all-NULL scores would elect NO winner and coalesce would
        # mark every member canonical)
        F.max_by(
            "id",
            F.struct(
                F.coalesce(F.col("_score"), F.lit(float("-inf"))).alias("_s"),
                (-F.col("id")).alias("_nid"),
            ),
        ).alias("_winner")
    )
    return (
        docs.join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .join(winners, "cluster_id", "left")
        .select(
            *docs.columns,
            "cluster_id",
            (F.coalesce("_winner", F.col(id_col)) == F.col(id_col)).alias("is_canonical"),
        )
    )


def overlap_census(
    docs: DataFrame,
    *,
    minhash_threshold: float = 0.7,
    shingle_n: int = 3,
    winnow_min_shared: int = 2,
    winnow_k: int = 4,
    winnow_w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One-call duplication census across the three TEXT pair tiers —
    the text analog of multimodal's overlap_report:

    - 'exact'  : normalized-content hash groups, emitted as STAR edges
      (member ↔ lowest id) — linear in group size, never the
      quadratic within-group pair expansion, and component-equivalent;
    - 'near'   : MinHash+LSH candidates at ≥ minhash_threshold
      (strength = estimated Jaccard);
    - 'substr' : winnowing fingerprint pairs (strength = shared fps) —
      the guaranteed shared-passage tier exact/near both miss when
      only a passage is copied.

    Returns {'pairs': (id_a, id_b, tier, strength),
             'docs': docs + (cluster_id, is_canonical)} — clusters run
    over the UNION graph, so a doc exact-dup'd to one doc and
    passage-linked to another lands in ONE cluster.  Each tier is the
    already-gated operator; this function only pins the composition.
    The pair union is materialized once at call time (one eager
    localCheckpoint job) because both outputs read it."""
    from . import spans as spans_ops

    hashed = docs.select(
        F.md5(normalized_text(F.col(text_col))).alias("content_hash"),
        F.col(id_col),
    )
    groups = exact_duplicates(docs, text_col=text_col, id_col=id_col)
    exact_pairs = (
        hashed.join(groups, "content_hash")
        .filter(F.col(id_col) != F.col("keep_id"))
        .select(
            F.col("keep_id").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit("exact").alias("tier"),
            F.lit(1.0).alias("strength"),
        )
    )
    near = minhash_lsh_pairs(
        docs, threshold=minhash_threshold, shingle_n=shingle_n,
        text_col=text_col, id_col=id_col,
    ).select(
        "id_a", "id_b", F.lit("near").alias("tier"),
        F.col("est_jaccard").alias("strength"),
    )
    substr = spans_ops.winnow_pairs(
        docs, k=winnow_k, w=winnow_w, min_shared=winnow_min_shared,
        text_col=text_col, id_col=id_col,
    ).select(
        "id_a", "id_b", F.lit("substr").alias("tier"),
        F.col("shared_fps").cast("double").alias("strength"),
    )
    # both outputs reference the pair union (the report AND the
    # clustering) — Spark re-evaluates a union subtree once per
    # reference, so pin it (the semdedup gate's localCheckpoint seam)
    pairs = (
        exact_pairs.unionByName(near).unionByName(substr).localCheckpoint(eager=True)
    )
    clustered = dedup_survivors(
        docs, pairs.select("id_a", "id_b").distinct(), id_col=id_col
    )
    return {"pairs": pairs, "docs": clustered}
