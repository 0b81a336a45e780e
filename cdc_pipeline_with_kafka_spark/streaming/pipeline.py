"""Streaming pipelines (SURVEY.md §3.1, §3.5, §2.8).

Wires the CDC source → parse → filters → keyword explode → windowed
aggregations → alert filters → sinks, as Structured Streaming queries.
Every transform is the SAME batch-tested function from operators/ —
streaming is a deployment mode, not a separate code path.

Event-time + watermarks throughout (Debezium ts_ms), a documented
improvement over the reference's processing-time (SURVEY §2.8 T3).
The reference's Kafka Streams windows have no grace period
(AlertTopology.java:58-59,88-89 — ofSizeWithNoGrace); our default
watermark of 10 minutes is the configurable late-data allowance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as textfn
from ..operators import alerts, windows
from ..sources import cdc
from . import store

DEFAULT_WATERMARK = "10 minutes"


def article_stream(raw: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Parsed, filtered article after-images with event-time watermark
    (§3.1 steps P1→P2→P3)."""
    parsed = cdc.parse_envelope(raw.selectExpr("CAST(value AS STRING) AS value"))
    articles = cdc.after_image(cdc.for_table(cdc.upsert_ops(parsed), "articles"))
    return cdc.quality_filter(articles).withWatermark("ts", watermark)


def deduped_article_stream(articles: DataFrame, key: str = "link") -> DataFrame:
    """S14/J3 in streaming form: the reference's write path skips
    articles whose `link` already exists (ArticleServiceImpl.java:
    107-148 existsByLink; crawl path CrawlerServiceImpl.java:489-504).
    In a stream that anti-join becomes state-backed dedup:
    `dropDuplicatesWithinWatermark` keeps one row per key and — unlike
    plain dropDuplicates — EVICTS keys once they age past the
    watermark, so state is bounded at 100 TB (the batch-side MERGE on
    the sink remains the durable cross-restart guard; this trims
    in-flight duplicates cheaply before the shuffle-heavy work)."""
    return articles.dropDuplicatesWithinWatermark([key])


def _keywords():
    """An article's keyword array: the stored comma-joined keywords
    column when present, else regex noun extraction (F2) on the
    title-weighted text."""
    return F.when(
        F.col("keywords").isNotNull() & (F.col("keywords") != ""),
        textfn.split_csv(F.col("keywords")),
    ).otherwise(
        F.filter(
            textfn.extract_korean_nouns(textfn.weighted_text(F.col("title"), F.col("content"))),
            lambda x: textfn.is_valid_keyword(x),
        )
    )


def keyword_stream(articles: DataFrame) -> DataFrame:
    """Explode per-article keywords: uses the stored comma-joined
    keywords column when present, else regex noun extraction (F2) on
    the title-weighted text — the deterministic extraction mode
    (SURVEY §2.9 U1 fallback)."""
    return articles.select("id", "category", "source", "ts", F.explode(_keywords()).alias("keyword"))


def trending_query(keywords: DataFrame, window: str = "30 minutes", min_mentions: int = 10) -> DataFrame:
    """A1 + W11: tumbling-window keyword counts ≥ threshold — the
    trending-alert stream (AlertTopology branch 2)."""
    return alerts.trending_alerts(
        windows.windowed_count(keywords, "ts", "keyword", window), min_mentions
    )


def breaking_query(articles: DataFrame, window: str = "5 minutes") -> DataFrame:
    """A2 + A12 fused: per-(window, category) word stats → breaking rule
    (AlertTopology branch 1).

    Batch mode uses the fused two-level aggregation from
    operators.windows.  Streaming mode uses Spark's chained streaming
    aggregation (append mode, SPARK-40925): level 1 counts per
    (window, category, word) carrying an HLL sketch of sources; level 2
    re-windows via window_time and merges sketches with hll_union_agg —
    distinct-source counting survives the two-level rollup without a
    stream-stream join."""
    if not articles.isStreaming:
        stats = windows.breaking_word_stats(articles, "ts", "category", "title", "source", window)
        return alerts.breaking_alerts(stats)

    words = articles.select(
        F.window("ts", window).alias("w"),
        "category",
        "source",
        F.col("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col("title")), r"\s+"), lambda x: x != F.lit(""))
        ).alias("word"),
    )
    word_counts = words.groupBy("w", "category", "word").agg(
        F.count(F.lit(1)).alias("word_cnt"),
        F.hll_sketch_agg("source").alias("src_sketch"),
        F.hll_sketch_agg("id").alias("art_sketch"),
    )
    stats = (
        word_counts.groupBy(
            F.window(F.window_time("w"), window).alias("w2"), F.col("category")
        )
        .agg(
            F.max("word_cnt").alias("max_word_cnt"),
            F.max_by("word", "word_cnt").alias("top_word"),
            F.hll_sketch_estimate(F.hll_union_agg("src_sketch")).alias("distinct_sources"),
            F.hll_sketch_estimate(F.hll_union_agg("art_sketch")).alias("article_cnt"),
        )
        .select(
            F.col("w2.start").alias("window_start"),
            F.col("w2.end").alias("window_end"),
            "category", "top_word", "max_word_cnt", "distinct_sources", "article_cnt",
        )
    )
    return alerts.breaking_alerts(stats)


def alert_events(trending: DataFrame) -> DataFrame:
    """Shape trending rows as AlertEvent JSON for the Kafka sink (S8)."""
    return trending.select(
        F.concat_ws("_", F.lit("trending"), F.col("keyword"), F.col("window_start").cast("long")).alias("key"),
        F.to_json(
            F.struct(
                F.concat_ws("_", F.lit("alert"), F.col("keyword")).alias("id"),
                F.lit("trending").alias("type"),
                F.col("keyword").alias("title"),
                F.col("cnt").alias("mentions"),
                F.col("window_start").alias("timestamp"),
                F.least(F.col("cnt") / F.lit(100.0), F.lit(1.0)).alias("severity"),
            )
        ).alias("value"),
    )


def enriched_keyword_events(articles: DataFrame) -> DataFrame:
    """S7: ProcessedKeywordEvent republish payload
    (keyword_republisher.py:27-38, 43-123): per article — scored
    keyword structs, breaking indicators (U4/F7), sentiment stub (U5),
    trend-score stub (U6), content truncated to 500 chars, keyed
    ``article_{id}`` — as Kafka-ready (key, value-JSON) rows."""
    # Generate barrier: the extraction expression is referenced by three
    # downstream columns; explode(array(...)) pins one evaluation
    enriched = articles.select(
        F.col("id"),
        F.col("title"),
        textfn.truncate(F.col("content"), 500).alias("content"),
        F.col("category"),
        F.col("ts"),
        F.explode(F.array(F.array_distinct(_keywords()))).alias("kw_list"),  # O6 ordered distinct
    ).select(
        "*",
        F.transform(
            "kw_list",
            lambda k: F.struct(
                k.alias("keyword"),
                F.lit(0.8).alias("score"),  # confidence stub (extraction_method=regex)
                textfn.classify_keyword(k).alias("category"),
            ),
        ).alias("keywords"),
        textfn.breaking_indicators(F.col("title"), F.col("kw_list")).alias("breaking_indicators"),
        textfn.sentiment_stub().alias("sentiment"),
        textfn.trend_score_stub(F.col("kw_list")).alias("trends"),
    )
    return enriched.select(
        F.concat(F.lit("article_"), F.col("id")).alias("key"),
        F.to_json(
            F.struct(
                F.col("id").alias("article_id"),
                "title", "content", "category", "keywords", "trends",
                "breaking_indicators", "sentiment",
                F.lit("regex").alias("extraction_method"),
                F.col("ts").alias("timestamp"),
            )
        ).alias("value"),
    )


def wordcloud_query(keywords: DataFrame, window: str = "30 minutes", top_k: int = 50) -> DataFrame:
    """T8/A5/A13: the periodic word-cloud feed — windowed counts ready
    for a 60-second-trigger sink (main.py:437-474).  In streaming the
    top-k cut runs downstream of the sink (ranking isn't stateful-
    streaming-safe); in batch it applies directly."""
    flat = windows.windowed_count(keywords, "ts", "keyword", window).drop("window_end")
    if keywords.isStreaming:
        return flat
    return windows.topk_per_window(flat, top_k, ["window_start"]).drop("rnk")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "30 minutes",
    watermark: str = "10 minutes",
    right_suffix: str = "_r",
) -> DataFrame:
    """Watermarked stream–stream INNER join: right-side events within
    ``[left_ts, left_ts + max_lag]`` of a left event with the same
    key — attribution joins (click within 30 min of the view),
    request/response pairing, CDC event correlation.

    State boundedness (the property that makes this survive an
    unbounded stream): both sides carry an event-time watermark, and
    the join condition bounds right_ts relative to left_ts in BOTH
    directions, so Spark's symmetric hash join can purge buffered
    rows once the other side's watermark passes their joinable range
    — per-side state is O(events inside watermark + max_lag), never
    O(stream).  Inner-join matches emit as they arrive (the
    watermark gates state cleanup, not emission), so append mode
    needs no window finalization wait.

    Works identically on BATCH frames (watermarks are skipped; the
    condition is the same), so the batch run on the same files is
    the oracle for the streaming run — that equivalence is pinned in
    tests/test_streaming.py.

    Output: every left column under its own name + the right side's
    non-key columns, suffixed with `right_suffix` on name collisions.
    """
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = (
        right.withWatermark(right_ts, watermark)
        if right.isStreaming
        else right
    )
    l, r = l.alias("ssl"), r.alias("ssr")
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & (F.col(f"ssl.{k}") == F.col(f"ssr.{k}"))
    cond = (
        cond
        & (F.col(f"ssr.{right_ts}") >= F.col(f"ssl.{left_ts}"))
        & (
            F.col(f"ssr.{right_ts}")
            <= F.col(f"ssl.{left_ts}") + F.expr(f"INTERVAL {max_lag}")
        )
    )
    taken = set(left.columns)
    out = [F.col(f"ssl.{c}").alias(c) for c in left.columns] + [
        F.col(f"ssr.{c}").alias(c if c not in taken else c + right_suffix)
        for c in right.columns
        if c not in key_cols
    ]
    return l.join(r, cond, "inner").select(*out)


def neardup_filtered_stream(
    articles: DataFrame,
    text_col: str = "content",
    salt: str = "sdup:",
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: drop articles whose
    SimHash fingerprint collides with one already seen inside the
    watermark window.

    Exact-text dedup (deduped_article_stream) misses re-posts with
    trivial edits; hashing the simhash64 of the normalized text instead
    of the raw text makes near-identical rewrites collide on the same
    64-bit fingerprint with high probability while staying a pure
    column expression — so the state store still only keeps one 8-byte
    key per document within the watermark, and eviction semantics are
    identical to the exact variant.  (Full Hamming-distance near-dup
    needs the batch pigeonhole join — dedup.simhash_pairs; this is the
    stream-side cheap filter in front of it.)"""
    from ..operators import dedup as dedup_ops

    return articles.withColumn(
        "_fp", dedup_ops.simhash64(F.col(text_col), salt=salt)
    ).dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")


def make_admit_shard_sink(
    corpus_path: str,
    sigs_path: str,
    hashes_path: str,
    rejected_path: str | None = None,
    windows_path: str | None = None,
    span_k: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float | None = None,
    gopher_filter: bool = False,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
):
    """foreachBatch sink running the incremental corpus-admission
    pipeline (operators/curation.admit_shard) per micro-batch: each
    batch is a 'shard' checked against the PERSISTED signature/hash
    indexes, admitted docs append to the corpus, and the index deltas
    append back to the same paths — so batch N+1 automatically admits
    against everything batch ≤ N admitted.

    The streaming form of the daily-ingest loop with the micro-batch
    as the ingest grain: per batch the corpus-side cost is a scan of
    the KB-per-doc sketch indexes, never the corpus text.

    Crash safety is the batch-dir store contract (SCALING.md
    "Batch-dir store"): every output is a ``batch_id=N`` overwrite
    dir, and the index reads exclude batch N's own dirs, so a replayed
    batch admits against exactly the pre-batch index state and cannot
    reject its own docs as duplicates of their partial first attempt.
    Index-load failures other than the store's cold-start rule fail
    the batch — silently admitting with corpus-level dedup disabled
    would let duplicates into the corpus permanently.

    Optional passage tier: pass ``windows_path`` + ``span_k`` and each
    batch also strips corpus-known spans from its admitted docs
    (admit_shard stage 6) and appends the final-text window hashes --
    the streaming form of the incremental span index."""
    from ..operators.curation import admit_shard

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        out = admit_shard(
            batch_df,
            index_sigs=_other_batches(spark, sigs_path, batch_id),
            index_hashes=_other_batches(spark, hashes_path, batch_id),
            index_windows=(
                _other_batches(spark, windows_path, batch_id)
                if windows_path is not None else None
            ),
            span_k=span_k,
            text_col=text_col, id_col=id_col, min_quality=min_quality,
            gopher_filter=gopher_filter,
            threshold=threshold, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n,
        )
        # Materialize EVERY output against the pre-append index state
        # BEFORE the first append.  persist()+count() is NOT enough:
        # appending to sigs/hashes refreshes those paths and Spark
        # UNCACHES every plan that reads them, so a later write would
        # re-evaluate against the index including this batch's own
        # signatures and reject every doc as a duplicate of itself
        # (read-your-own-writes).  localCheckpoint truncates lineage —
        # the pinned outputs no longer reference the index paths at all.
        pinned = {k: df.localCheckpoint(eager=True) for k, df in out.items()}
        store.write(pinned["sigs_delta"], sigs_path, batch_id)
        store.write(pinned["hashes_delta"], hashes_path, batch_id)
        if "windows_delta" in pinned and windows_path is not None:
            store.write(pinned["windows_delta"], windows_path, batch_id)
        store.write(pinned["admitted"], corpus_path, batch_id)
        if rejected_path is not None:
            store.write(pinned["rejected"], rejected_path, batch_id)

    return sink


def _other_batches(spark, path: str, batch_id: int):
    """An admission index without batch `batch_id`'s own dirs (a
    replay must not see its partial first attempt); None on a cold
    start."""
    df = store.read(spark, path)
    if df is None:
        return None
    return df.filter(F.col("batch_id") != batch_id).drop("batch_id")


def make_asof_enrich_sink(
    snapshot_loader,
    out_path: str,
    key_cols: list[str],
    stream_ts: str,
    snap_ts: str,
    value_cols: list[str],
):
    """foreachBatch sink: as-of-enrich each micro-batch against a
    snapshot table and append the result (J4's time-aware sibling —
    'latest aggregate AS OF the event's timestamp', not 'current
    value at processing time').

    ``snapshot_loader(spark) -> DataFrame`` is called per batch so a
    slowly-changing snapshot (hourly trend table, rate table) is
    re-read as it updates; the as-of join itself is the batch
    union-and-carry operator (operators/relational.py), so each
    micro-batch costs one shuffle of |batch|+|snapshot| — at scale
    snapshots are aggregates, orders of magnitude smaller than raw
    history.

    Crash replay: the batch-dir store contract (SCALING.md "Batch-dir
    store").  One caveat the admission sink doesn't have: the snapshot
    is re-read at replay time, so exactly-once holds when the snapshot
    is versioned/append-only over snap_ts — the as-of filter then
    picks the same rows — which is the shape the aggregate tables here
    have.
    """
    from ..operators.relational import asof_join

    def sink(batch_df, batch_id: int) -> None:
        snap = snapshot_loader(batch_df.sparkSession)
        enriched = asof_join(
            batch_df, snap, key_cols, stream_ts, snap_ts, value_cols
        )
        store.write(enriched, out_path, batch_id)

    return sink


def make_admit_assets_sink(
    assets_path: str,
    fps_path: str,
    rejected_path: str | None = None,
    max_hamming: int = 6,
    id_col: str = "asset_id",
    type_col: str = "media_type",
    payload_col: str = "payload",
):
    """foreachBatch sink for rolling MULTIMODAL admission
    (operators/multimodal.admit_assets): each micro-batch of assets is
    fingerprinted (image→pHash, audio→aHash, video→vHash) and
    perceptual duplicates are rejected against the persisted
    fingerprint index; admitted payloads append to the asset lake and
    the 16-byte/asset fingerprint deltas append to the index — batch
    N+1 admits against everything batch ≤ N admitted, and the corpus
    payload bytes are never re-read.

    Crash safety is the make_admit_shard_sink contract verbatim (the
    batch-dir store, SCALING.md "Batch-dir store", with
    exclude-own-batch index reads)."""
    from ..operators.multimodal import admit_assets

    def sink(batch_df, batch_id: int) -> None:
        out = admit_assets(
            batch_df,
            index_fps=_other_batches(batch_df.sparkSession, fps_path, batch_id),
            max_hamming=max_hamming,
            id_col=id_col, type_col=type_col, payload_col=payload_col,
        )
        # pin every output against the pre-append index state before
        # the first append (read-your-own-writes — see
        # make_admit_shard_sink)
        pinned = {k: df.localCheckpoint(eager=True) for k, df in out.items()}
        store.write(pinned["fps_delta"], fps_path, batch_id)
        store.write(pinned["admitted"], assets_path, batch_id)
        if rejected_path is not None:
            store.write(pinned["rejected"], rejected_path, batch_id)

    return sink


def make_bm25_index_sink(
    postings_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch sink maintaining a rolling BM25 postings index
    (operators/retrieval.build_bm25_index): each micro-batch's
    documents are tokenized into (id, term_hash, tf, dl) postings written
    under ``batch_id=N`` — postings rows are PER-DOC independent and
    the corpus statistics (df, n_docs, avgdl) are recomputed per query
    from the index, so appending a batch IS the whole index merge (the
    incremental ≡ full equivalence is held in pytest at boundary
    cutoffs).  Crash replay: the batch-dir store contract (SCALING.md
    "Batch-dir store").

    This maintains the SEARCH index; content admission (dedup,
    quality) stays make_admit_shard_sink's job — chain them by
    streaming the admitted lake into this sink.  An index path
    written with string-keyed (``term``) postings by an older build
    must be rebuilt: bm25_topk joins on ``term_hash`` only."""
    from ..operators.retrieval import build_bm25_index

    def sink(batch_df, batch_id: int) -> None:
        postings = build_bm25_index(batch_df, text_col=text_col, id_col=id_col)
        store.write(postings.localCheckpoint(eager=True), postings_path, batch_id)

    return sink


def make_kmeans_state_sink(
    state_path: str,
    assignments_path: str | None = None,
    k: int | None = None,
    init_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch sink for ONLINE k-means over an embedding stream
    (operators/similarity.kmeans_update_distributed): each micro-batch
    is absorbed into a persisted integer cluster state; batch N's
    state is written as a full snapshot under ``batch_id=N``, computed
    from the latest snapshot with batch_id < N — a running AGGREGATE
    kept as versioned full snapshots, so a replay recomputes batch N's
    snapshot from N−1's and overwrites (SCALING.md "Batch-dir store").
    Snapshots are k rows each.

    Cold start: with no snapshot on disk, the first batch trains the
    initial centroids (`k` required, kmeans_train_distributed with
    `init_iters`) and seeds the state from its own stats.  Assignment
    rows (id, cid, against the PRE-update centroids) append under
    ``assignments_path/batch_id=N`` when given."""
    from ..operators import similarity as sim

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = store.latest(spark, state_path, batch_id)
        if prior is None:
            if k is None:
                raise ValueError(
                    "no persisted state and no k for cold-start training"
                )
            state = sim.kmeans_state_from_training(
                batch_df, k, iters=init_iters, id_col=id_col, vec_col=vec_col
            )
            assigned = batch_df.select(
                F.col(id_col),
                sim._kmeans_assign_col(
                    F.col(vec_col).cast("array<double>"), state[0]
                ).alias("cid"),
            )
        else:
            assigned, state = sim.kmeans_update_distributed(
                batch_df, sim.kmeans_state_from_df(prior),
                id_col=id_col, vec_col=vec_col,
            )
        pinned = assigned.localCheckpoint(eager=True)
        store.write(sim.kmeans_state_df(spark, state), state_path, batch_id)
        if assignments_path is not None:
            store.write(pinned, assignments_path, batch_id)

    return sink


# Floor of the components sink's compaction trigger (SCALING §16): a
# young label table would otherwise be compacted every few batches.
COMPONENTS_COMPACT_MIN_ROWS = 65_536


def make_components_sink(labels_path: str, id_a: str = "id_a", id_b: str = "id_b"):
    """foreachBatch sink maintaining a rolling connected-components
    LABEL TABLE over a near-dup pair stream (operators/dedup, the
    streaming face of the component tier's incremental member).

    Batch N writes ONLY the labels it changes (new nodes + relabeled
    components — connected_components_delta) under ``batch_id=N``, so
    the write is O(batch-touched), not O(nodes-seen).  The current
    table is the last-writer-wins merge of all batch dirs
    (`read_component_labels`); a replayed batch reconstructs the prior
    view from dirs < N and overwrites its own dir, so replay is
    idempotent.  Stores written as full per-batch snapshots read the
    same way (each node's newest row wins).

    The sink then enforces the SCALING §16 cadence itself: it tracks
    cumulative delta rows in a small marker file and, once they reach
    ``max(COMPONENTS_COMPACT_MIN_ROWS, last-compacted table size)``
    (Σ delta ≈ node count), compacts dirs ≤ N−1 (always committed
    past, so never racing a replay).  The marker update is
    batch_id-guarded, so a replayed batch doesn't double-count its
    rows; losing the marker merely delays the next compaction (cadence
    state, not correctness state).  Compaction renames local dirs, so
    `labels_path` must be a local path or ``file://`` URI; any other
    scheme raises here, before a batch runs.

    Per-batch compute: components over the CONTRACTED graph (bounded
    by the batch's edge count) + one broadcast remap — the corpus pair
    graph is never recomputed.  Cold start: batch 0 is a plain
    `connected_components` run.  Every batch uses that one components
    algorithm (min-label rounds, then star contraction if the batch's
    graph is long), so any pair-graph shape converges."""
    import os

    from ..operators import dedup as dedup_ops

    marker = os.path.join(store.local_path(labels_path), "_compact_state.json")

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = batch_df.select(id_a, id_b)
        labels = read_component_labels(spark, labels_path, before=batch_id)
        if labels is None:
            out = dedup_ops.connected_components(pairs, id_a, id_b)
        else:
            out = dedup_ops.connected_components_delta(pairs, labels, id_a=id_a, id_b=id_b)
        pinned = out.localCheckpoint(eager=True)
        store.write(pinned, labels_path, batch_id)
        _compact_components(spark, labels_path, marker, batch_id, pinned.count())

    return sink


def _compact_components(spark, labels_path: str, marker: str, batch_id: int, batch_rows: int) -> None:
    """SCALING §16 cadence: compact when the deltas accumulated since
    the last compaction reach the label-table size (Σ delta ≈ node
    count), floored at COMPONENTS_COMPACT_MIN_ROWS.  State lives in the
    `marker` file; the update is batch_id-guarded so crash replays
    don't double-count, and a lost marker only DELAYS compaction."""
    import json
    import os

    state = {"last_counted_batch": -1, "delta_since": 0, "base_rows": 0}
    try:
        with open(marker) as f:
            state.update(json.load(f))
    except (OSError, ValueError):
        pass
    if batch_id > state["last_counted_batch"]:
        state["delta_since"] += batch_rows
        state["last_counted_batch"] = batch_id
    if batch_id >= 1 and state["delta_since"] >= max(
        COMPONENTS_COMPACT_MIN_ROWS, state["base_rows"]
    ):
        state["base_rows"] = compact_component_labels(spark, labels_path, batch_id - 1)
        # only the current batch's dir remains uncompacted
        state["delta_since"] = batch_rows
    with open(marker + ".tmp", "w") as f:
        json.dump(state, f)
    os.replace(marker + ".tmp", marker)


def read_component_labels(spark, labels_path: str, before: int | None = None):
    """Current (id, cluster_id) view of a component label table:
    last-writer-wins per node over the batch_id dirs (optionally only
    dirs < `before` — the replay-reconstruction read).  Returns None
    when no dirs qualify (cold start)."""
    df = store.read(spark, labels_path)
    if df is not None and before is not None:
        df = df.filter(F.col("batch_id") < before)
    if df is None or df.limit(1).count() == 0:
        return None
    return _lww_labels(df)


def _lww_labels(rows):
    return store.last_per_key(rows, ["id"]).select("id", "cluster_id")


def compact_component_labels(
    spark, labels_path: str, upto_batch: int
) -> int:
    """Collapse all component-label dirs with batch_id ≤ `upto_batch`
    into one last-writer-wins dir (under the highest compacted id) and
    delete the older dirs — bounds the reconstruction read.  The
    components sink runs this itself; ONLY compact batches the stream
    has committed past (foreachBatch replays at most the newest
    uncommitted batch, so upto_batch ≤ last-committed − 1 is always
    safe).  Local filesystem only (loud ValueError otherwise).
    Returns the compacted row count."""
    return store.compact(spark, labels_path, upto_batch, _lww_labels)


def make_profile_sink(
    profile_path: str,
    cols: list[str] | None = None,
    approx_distinct: bool = False,
):
    """foreachBatch data-quality monitor: every micro-batch's
    table_profile (per-column nulls/distincts/extrema, operators/
    sketch.table_profile) appends under ``batch_id=N`` — the streaming
    face of the delivery-validation report, so null bursts and
    cardinality collapses surface per batch instead of at the next
    full-table audit.  Profile rows are per-batch independent, so
    crash replay is the batch-dir store contract (SCALING.md
    "Batch-dir store").  Chain AFTER parse/quarantine and BEFORE
    heavier admission sinks; reading the profile table back gives a
    time series per column."""
    from ..operators.sketch import table_profile

    def sink(batch_df, batch_id: int) -> None:
        prof = table_profile(batch_df, cols=cols, approx_distinct=approx_distinct)
        store.write(prof.localCheckpoint(eager=True), profile_path, batch_id)

    return sink


def make_cms_sink(
    sketch_path: str,
    key_col: str,
    width: int = 8192,
    depth: int = 5,
    salt: str = "jse",
):
    """foreachBatch sink maintaining a rolling count-min key sketch
    (operators/sketch.cms_key_partials): each micro-batch writes ITS
    OWN (hash_row, bucket, cnt) partials under ``batch_id=N`` — CMS
    cells merge by plain addition, so appending a batch IS the sketch
    merge and `read_cms_sketch` just sums across batch dirs.  The
    stream's join-size against any other sketch (static dimension,
    another stream's sink) is then `cms_inner_product` over two
    KB-sized tables — the continuously-maintained 100 TB join
    pre-flight, no key-distinct shuffle ever.

    Per-batch write is ≤ depth·width rows regardless of batch size
    (usually far less).  Crash replay: the batch-dir store contract
    (SCALING.md "Batch-dir store").  Width/depth/salt are part
    of the PATH's layout contract — never mix parameters under one
    path (bucket ids from different widths would sum nonsense);
    `read_cms_sketch` cannot detect the mix, so treat a parameter
    change as a new path."""
    from ..operators.sketch import cms_key_partials

    def sink(batch_df, batch_id: int) -> None:
        part = cms_key_partials(
            batch_df, key_col, width=width, depth=depth, salt=salt
        )
        store.write(part.localCheckpoint(eager=True), sketch_path, batch_id)

    return sink


def read_cms_sketch(spark, sketch_path: str):
    """Merged sketch view of a `make_cms_sink` table: per-batch
    partials summed into one (hash_row, bucket, cnt) table — feed to
    `cms_inner_product` (bucket-cardinality-bounded read)."""
    return (
        spark.read.parquet(sketch_path)
        .groupBy("hash_row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def make_scd2_sink(
    history_path: str,
    key_cols: list[str],
    order_cols: list[str],
    attr_cols: list[str],
    op_col: str | None = None,
    delete_ops: tuple = ("d",),
):
    """foreachBatch sink maintaining a slowly-changing-dimension
    TYPE-2 HISTORY table incrementally from a CDC change stream — the
    streaming completion of `operators.relational.scd2_history`
    (which re-windows the WHOLE change log; at 100 TB you cannot do
    that per micro-batch) and of the reference's continuous
    replication loop (targetDB1/SyncService.py:87-140 maintains the
    CURRENT state row-by-row; this maintains every version).

    Per micro-batch, ONLY the keys the batch touches move:

    1. the prior OPEN interval of each touched key is re-emitted
       CLOSED at the key's first batch order value (min over ALL the
       key's batch changes, deletes included — a leading delete
       closes history exactly like a leading update);
    2. the batch's own changes run through `scd2_history` (one keyed
       window over BATCH rows only) — intra-batch versions close each
       other, the last stays open unless a delete ends it.

    Batch N writes those rows under ``batch_id=N``; the CURRENT
    history is the last-writer-wins merge per (key, effective_from)
    over the batch dirs (`read_scd2_history`) — a closed re-emission
    supersedes its open original from an earlier batch.  Crash
    replay is the batch-dir store contract (SCALING.md "Batch-dir
    store"): the prior view comes from dirs < N only.

    Correctness contract (pinned in tests): with `order_cols`
    nondecreasing per key ACROSS batches (CDC offset monotonicity —
    Debezium/binlog order; violations would need the batch form),
    the N-batch incremental history ≡ one-shot `scd2_history` on the
    concatenated change log.

    100 TB shape: per batch — one LWW read of the history dirs
    (bound it with `compact_scd2_history`, cadence as SCALING.md's
    components rule), one key-partitioned semi-join of prior open
    rows against the batch's (distinct, batch-sized) key set, one
    keyed window over batch rows, write O(batch-touched).  The
    change log is never re-windowed."""
    from ..operators.relational import scd2_history

    if not key_cols or not order_cols or not attr_cols:
        raise ValueError("need key_cols, order_cols and attr_cols")

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = read_scd2_history(
            spark, history_path, key_cols, before=batch_id
        )
        batch_hist = scd2_history(
            batch_df, key_cols, order_cols, attr_cols,
            op_col=op_col, delete_ops=delete_ops,
        )
        out = batch_hist
        if prior is not None:
            firsts = batch_df.groupBy(*key_cols).agg(
                F.min(F.struct(*order_cols)).alias("_f")
            )
            close_at = firsts.select(
                *key_cols, F.col(f"_f.{order_cols[0]}").alias("_close")
            )
            closed = (
                prior.filter(F.col("effective_to").isNull())
                .join(close_at, list(key_cols))
                .withColumn("effective_to", F.col("_close"))
                .withColumn("is_current", F.lit(False))
                .drop("_close")
            )
            out = closed.unionByName(batch_hist)
        store.write(out.localCheckpoint(eager=True), history_path, batch_id)

    return sink


def read_scd2_history(
    spark,
    history_path: str,
    key_cols: list[str],
    before: int | None = None,
):
    """Current SCD2 history view of a `make_scd2_sink` table:
    last-writer-wins per (key, effective_from) over the batch_id dirs
    (optionally only dirs < `before` — the sink's replay-
    reconstruction read).  Returns None when no dirs qualify (cold
    start)."""
    df = store.read(spark, history_path)
    if df is not None and before is not None:
        df = df.filter(F.col("batch_id") < before)
    if df is None or df.limit(1).count() == 0:
        return None
    return store.last_per_key(df, [*key_cols, "effective_from"])


def compact_scd2_history(
    spark, history_path: str, key_cols: list[str], upto_batch: int
) -> int:
    """Collapse all SCD2 history dirs with batch_id ≤ `upto_batch`
    into one last-writer-wins dir (under the highest compacted id) and
    delete the older dirs — bounds the sink's reconstruction read
    (only compact batches the stream has committed past).  Local
    filesystem only (loud ValueError otherwise).  Returns the
    compacted row count."""
    return store.compact(
        spark, history_path, upto_batch,
        lambda rows: store.last_per_key(rows, [*key_cols, "effective_from"]),
    )


def make_dq_sink(
    report_path: str,
    rules: dict[str, str],
    on_fail: str = "report",
    quarantine_path: str | None = None,
    downstream=None,
):
    """foreachBatch DELIVERY GATE: every micro-batch runs the named
    data-quality contract (`operators.sketch.validate_rules` — one
    single-aggregate scan) and writes the per-rule report under
    ``batch_id=N`` (the batch-dir store, SCALING.md "Batch-dir
    store").  What happens to a failing batch is the policy
    knob every ingestion pipeline needs spelled out:

    - ``on_fail='report'``  — record and continue (monitoring only);
    - ``on_fail='quarantine'`` — rows violating ANY rule divert to
      ``quarantine_path/batch_id=N`` and only CLEAN rows flow to
      `downstream` (the malformed-envelope quarantine pattern,
      sources/cdc.py, applied to semantic contracts);
    - ``on_fail='fail'``    — raise, killing the query: the batch
      replays after the contract (or the data) is fixed — for
      contracts where partial delivery is worse than no delivery.

    `downstream` is an optional ``fn(clean_df, batch_id)`` called
    with the surviving rows — chain the real sink through the gate.
    Violation predicate matches validate_rules: FALSE or NULL
    violates; the quarantine split evaluates the same expressions
    row-wise (one extra scan only in quarantine mode)."""
    if on_fail not in ("report", "quarantine", "fail"):
        raise ValueError("on_fail must be report|quarantine|fail")
    if on_fail == "quarantine" and quarantine_path is None:
        raise ValueError("quarantine mode needs quarantine_path")
    from ..operators.sketch import validate_rules

    def sink(batch_df, batch_id: int) -> None:
        report = validate_rules(batch_df, rules).localCheckpoint(eager=True)
        store.write(report, report_path, batch_id)
        failed = [r["rule"] for r in report.collect() if not r["passed"]]
        if on_fail == "fail" and failed:
            raise ValueError(
                f"dq contract failed in batch {batch_id}: {sorted(failed)}"
            )
        out = batch_df
        if on_fail == "quarantine":
            bad = F.lit(False)
            for expr in rules.values():
                bad = bad | ~F.coalesce(F.expr(expr), F.lit(False))
            store.write(batch_df.filter(bad), quarantine_path, batch_id)
            out = batch_df.filter(~bad)
        if downstream is not None:
            downstream(out, batch_id)

    return sink


def make_drift_sink(
    report_path: str,
    reference_df,
    value_col: str,
    threshold_ppm: int = 100_000,
    on_breach: str = "report",
    max_values: int = 1_000_000,
    auto_quantize_cells: int | None = 100_000,
    downstream=None,
):
    """foreachBatch DRIFT MONITOR: every micro-batch's `value_col`
    distribution is KS-tested against a PINNED reference (the last
    blessed release, the training-time distribution), and the exact
    integer report lands under ``batch_id=N`` (idempotent overwrite,
    the profile-sink contract) — the streaming form of
    `stats.ks_drift`, for the "the upstream silently changed units /
    started sending zeros" failure CDC pipelines meet in production.

    The reference's (value → count) map is collected ONCE at sink
    build; per batch, one map-side-combined groupBy collects the
    batch's DISTINCT-VALUE counts (both collects guarded by
    `max_values` — quantize the column upstream past that, the
    ks_drift scale rule).  When `value_col` is fractional
    (float/double/decimal with scale > 0), the ks_drift DEFAULT
    auto-quantize applies here too: an equal-width grid of
    `auto_quantize_cells` cells is PINNED from the reference's
    min/max at sink build, and both the reference and every batch
    map onto it (batch values outside the reference range clamp to
    the edge cells, which is exactly where out-of-range drift should
    accumulate) — so a continuous column never funnels row-count
    distinct values through the collects.  `auto_quantize_cells=None`
    opts out.  The statistic itself runs in the shared pure-Python
    `stats.ks_core`, pytest-pinned ≡ the Spark ks_drift, so batch
    reports replay exactly off-Spark.

    ``on_breach='report'`` records and continues; ``'fail'`` raises
    so the query halts and the batch replays after investigation —
    drift is batch-level evidence, so there is deliberately no
    row-level quarantine mode (rows aren't individually guilty).
    `downstream` (fn(batch_df, batch_id)) always receives the intact
    batch in report mode, and is NOT called on a failing batch in
    fail mode (the gate refuses delivery, replay re-offers it).

    Report row: (n_ref, n_batch, d_ppm, at_value [string-rendered],
    threshold_ppm, breached).
    """
    if on_breach not in ("report", "fail"):
        raise ValueError("on_breach must be report|fail")
    from ..operators.stats import (
        _drop_nan,
        _is_fractional,
        _require_finite_range,
        ks_core,
    )

    def _grid_expr(lo: float, width: float, cells: int):
        cell = F.greatest(
            F.lit(0),
            F.least(
                F.lit(cells - 1),
                F.floor(
                    (F.col(value_col).cast("double") - F.lit(lo))
                    / F.lit(width)
                ).cast("long"),
            ),
        )
        return (F.lit(lo) + cell.cast("double") * F.lit(width)) \
            .alias(value_col)

    quantize = None  # fn(df) -> df with value_col mapped to the grid
    if auto_quantize_cells is not None and _is_fractional(
        reference_df, value_col
    ):
        if auto_quantize_cells < 2:
            raise ValueError("auto_quantize_cells must be >= 2")
        mm = _drop_nan(
            reference_df.filter(F.col(value_col).isNotNull()), value_col
        ).agg(
            F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
        ).collect()[0]
        if mm["lo"] is not None:
            # NaN is filtered above (≙ NULL, the ks_drift contract) so
            # a stray NaN can't poison min/max and silently disable
            # the grid; ±Inf still reaches here — reject loudly.
            _require_finite_range(
                float(mm["lo"]), float(mm["hi"]),
                "make_drift_sink reference grid",
            )
        if mm["lo"] is not None and float(mm["hi"]) > float(mm["lo"]):
            lo, hi = float(mm["lo"]), float(mm["hi"])
            cells = int(auto_quantize_cells)
            width = (hi - lo) / cells

            def quantize(d, _lo=lo, _w=width, _c=cells):
                return d.select(_grid_expr(_lo, _w, _c))

    def _counts_frame(d):
        d = d.filter(F.col(value_col).isNotNull())
        if _is_fractional(d, value_col):
            d = _drop_nan(d, value_col)  # NaN ≙ NULL, ks_drift contract
        if quantize is not None:
            d = quantize(d)
        return d.groupBy(value_col).count().limit(max_values + 1)

    ref_rows = _counts_frame(reference_df).collect()
    if len(ref_rows) > max_values:
        raise ValueError(
            f"drift reference has > {max_values} distinct values — "
            "quantize the column first (the ks_drift scale rule)"
        )
    ref_counts = {r[0]: int(r[1]) for r in ref_rows}

    def sink(batch_df, batch_id: int) -> None:
        got = _counts_frame(batch_df).collect()
        if len(got) > max_values:
            raise ValueError(
                f"batch {batch_id} has > {max_values} distinct "
                f"{value_col!r} values — quantize upstream"
            )
        batch_counts = {r[0]: int(r[1]) for r in got}
        d_ppm, n_a, n_b, at_v = ks_core(ref_counts, batch_counts)
        breached = d_ppm > threshold_ppm
        report = batch_df.sparkSession.createDataFrame(
            [(n_a, n_b, d_ppm,
              None if at_v is None else str(at_v),
              threshold_ppm, breached)],
            "n_ref long, n_batch long, d_ppm long, at_value string, "
            "threshold_ppm long, breached boolean",
        )
        store.write(report, report_path, batch_id)
        if breached and on_breach == "fail":
            raise ValueError(
                f"distribution drift in batch {batch_id}: "
                f"d_ppm={d_ppm} > {threshold_ppm} at {at_v!r}"
            )
        if downstream is not None:
            downstream(batch_df, batch_id)

    return sink


def make_lateness_sink(
    report_path: str,
    ts_col: str,
    clock=None,
    quantiles_ppm: tuple = (500_000, 950_000, 990_000),
    downstream=None,
):
    """foreachBatch EVENT-TIME LAG observability: every micro-batch
    records how late its events arrived — (arrival wall-clock −
    event time) — as exact rank quantiles + min/max/mean, under
    ``batch_id=N`` (idempotent overwrite).  This is the number that
    TELLS you what watermark delay to configure (T3's '10 minutes'
    is a guess until you've seen the p99 lag), and the first thing
    that moves when an upstream producer starts buffering.

    `clock` is an injectable zero-arg epoch-micros supplier (defaults
    to the system clock) — injected so tests and replays are
    deterministic; on replay the recomputed lags use the REPLAY
    clock, which is the honest semantics (the report answers "how
    late relative to now", not "what did we once log").

    One group-keyed rank window per batch over the batch's rows (the
    group_quantiles machinery at batch scope) — no state kept across
    batches; compose with the HLL/profile sinks for history.

    Report row: (n, null_ts, min_lag_us, max_lag_us, mean_lag_us
    [truncating div], q_ppm → lag quantiles as one row per q).
    """
    import time as _time

    from ..operators.sketch import group_quantiles

    clock = clock or (lambda: int(_time.time() * 1_000_000))

    def sink(batch_df, batch_id: int) -> None:
        now = int(clock())
        lag = (
            F.lit(now)
            - F.unix_micros(F.col(ts_col).cast("timestamp"))
        ).alias("lag_us")
        rows = batch_df.select(lag, F.col(ts_col).isNull().alias("_isnull"))
        base = rows.agg(
            F.count(F.when(~F.col("_isnull"), F.lit(1))).alias("n"),
            F.count(F.when(F.col("_isnull"), F.lit(1))).alias("null_ts"),
            F.min("lag_us").alias("min_lag_us"),
            F.max("lag_us").alias("max_lag_us"),
            F.expr(
                "CASE WHEN count(lag_us) > 0 THEN "
                "CAST(sum(lag_us) div count(lag_us) AS BIGINT) "
                "ELSE NULL END"
            ).alias("mean_lag_us"),
        ).withColumn("q_ppm", F.lit(None).cast("long")) \
         .withColumn("lag_q_us", F.lit(None).cast("long"))
        qs = group_quantiles(
            rows.filter(~F.col("_isnull")).withColumn("_g", F.lit(1)),
            "lag_us", ["_g"], tuple(quantiles_ppm),
        ).select(
            F.lit(None).cast("long").alias("n"),
            F.lit(None).cast("long").alias("null_ts"),
            F.lit(None).cast("long").alias("min_lag_us"),
            F.lit(None).cast("long").alias("max_lag_us"),
            F.lit(None).cast("long").alias("mean_lag_us"),
            F.col("q_ppm").cast("long").alias("q_ppm"),
            F.col("quantile_value").cast("long").alias("lag_q_us"),
        )
        store.write(base.unionByName(qs), report_path, batch_id)
        if downstream is not None:
            downstream(batch_df, batch_id)

    return sink


def make_comoment_sink(
    table_path: str,
    x_col: str,
    y_col: str,
    group_cols: list[str],
    micro: int = 1_000_000,
):
    """foreachBatch ROLLING REGRESSION STATE: every micro-batch
    appends its per-group exact co-moment deltas (stats.ols_comoments
    — DECIMAL(38,0) integer sums) under ``batch_id=N``; because the
    sums are order-free integers, `read_comoments` merges ALL batches
    by plain addition and `stats.ols_from_comoments` fits
    slope/intercept/r² over the WHOLE stream without ever rescanning
    a row — the trend of a 100 TB event history from a groups-sized
    table (the HLL-rollup move, applied to regression state).

    Incremental ≡ one-shot is a THEOREM here, not a tolerance: the
    merged sums are bit-identical to the single-pass sums, so the
    fitted doubles are too (pytest-pinned).  Write is O(groups in
    batch); crash replay is the batch-dir store contract (SCALING.md
    "Batch-dir store").  Compaction: `compact_comoments` folds all
    batch directories into one, invariant under timing."""
    from ..operators.stats import ols_comoments

    def sink(batch_df, batch_id: int) -> None:
        comoments = ols_comoments(batch_df, x_col, y_col, group_cols, micro)
        store.write(comoments, table_path, batch_id)

    return sink


def read_comoments(spark, table_path: str, group_cols: list[str]):
    """Merged co-moment table across every delivered batch (and any
    compacted segment) — exact per-group DECIMAL sums; feed to
    stats.ols_from_comoments (or read n/Σ directly).  Raises
    FileNotFoundError on an empty or missing table."""
    from ..operators.stats import merge_comoments

    rows = store.read(spark, table_path)
    if rows is None:
        raise FileNotFoundError(f"no co-moment batches under {table_path}")
    return merge_comoments(rows.drop("batch_id"), group_cols)


def compact_comoments(spark, table_path: str, group_cols: list[str]) -> int:
    """Fold all batch directories into a single ``batch_id=-1``
    segment (exact additive merge, so compaction NEVER changes any
    readable number).  The merged segment is written before any
    directory is deleted.  Local filesystem only (loud ValueError
    otherwise).  Returns the compacted row count."""
    from ..operators.stats import merge_comoments

    return store.compact(
        spark, table_path, None,
        lambda rows: merge_comoments(rows, group_cols),
        into=-1,
    )


def make_ewma_sink(
    out_path: str,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha_ppm: int = 200_000,
):
    """foreachBatch EWMA maintenance — the `trends.ewma` docstring's
    'chain the last s across shards' made automatic: each micro-batch
    seeds every key's recursion from the key's LATEST persisted state
    (the exact integer-micro s), smooths only the batch's rows, and
    writes smoothed rows under ``rows/batch_id=N`` plus the updated
    per-key states under ``state/batch_id=N``.  A 100 TB stream's
    smoother therefore never re-reads history: per batch the work is
    O(batch rows) + a touched-keys-sized state join.

    Contract: cross-batch order monotonicity on `order_cols` per key
    (the CDC offset contract the SCD2 sink shares) — a late row
    belonging before the persisted state would need re-smoothing
    from its position; route late data through a watermarked upstream
    if that matters.  Replay: seeding EXCLUDES states with
    batch_id ≥ the replayed id, so re-running the newest batch is
    byte-identical (the batch-dir store contract, SCALING.md
    "Batch-dir store").  N-batch incremental ≡ one-shot `trends.ewma` on the
    concatenated stream is pytest-pinned."""
    if not 0 < alpha_ppm <= 1_000_000:
        raise ValueError("alpha_ppm must be in (0, 1e6]")
    from ..operators import trends as _trends

    keys, order = list(key_cols), list(order_cols)
    state_cols = ["ewma_micro"]

    def smooth(batch_df, seed):
        return _trends.ewma(
            batch_df, keys, order, value_col, alpha_ppm, state=seed
        )

    return _make_smoother_sink(out_path, keys, order, state_cols, smooth)


def _make_smoother_sink(
    out_path: str,
    keys: list[str],
    order: list[str],
    state_cols: list[str],
    smooth,
):
    """Shared scaffolding of the ewma/holt maintenance sinks: seed
    from each key's latest state strictly BEFORE this batch_id (replay
    safety), hand `smooth(batch_df, seed_or_None)` the batch, write
    the smoothed rows and the per-key last-row states to the
    ``rows/`` and ``state/`` batch-dir stores.  A state store that
    fails to read for any reason but the store's cold-start rule
    fails the batch: seeding cold would silently restart every key."""
    from pyspark.sql import Window

    def sink(batch_df, batch_id: int) -> None:
        states = store.read(batch_df.sparkSession, f"{out_path}/state")
        seed = None if states is None else store.last_per_key(
            states.filter(F.col("batch_id") < batch_id), keys
        ).select(*keys, *state_cols)
        smoothed = smooth(batch_df, seed).localCheckpoint(eager=True)
        store.write(smoothed, f"{out_path}/rows", batch_id)
        last = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
        new_state = (
            smoothed.withColumn("_rn", F.row_number().over(last))
            .filter(F.col("_rn") == 1)
            .select(*keys, *state_cols)
        )
        new_state = new_state.localCheckpoint(eager=True)
        store.write(new_state, f"{out_path}/state", batch_id)

    return sink


def read_ewma_rows(spark, out_path: str):
    """All smoothed rows of a `make_ewma_sink` table (union of batch
    dirs — per-row independent once written, so this is a plain
    read)."""
    return spark.read.parquet(f"{out_path}/rows")


def make_holt_sink(
    out_path: str,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha_ppm: int = 200_000,
    beta_ppm: int = 100_000,
):
    """foreachBatch Holt (level + trend) maintenance — `make_ewma_sink`
    with TWO integers of state per key: each batch seeds every key's
    (s, b) from the latest persisted state, smooths only the batch's
    rows with `trends.holt_smoothing`'s exact recursion, and writes
    rows under ``rows/batch_id=N`` + states under ``state/batch_id=N``.
    Same contracts: cross-batch order monotonicity per key; replay
    seeding excludes batch_id ≥ the replayed id (byte-identical crash
    replay); N-batch incremental ≡ one-shot pytest-pinned.

    The smoothing itself IS `trends.holt_smoothing(state=seed)` —
    the batch operator's shard-chaining seam is the sink's per-batch
    seam, so the two can never drift."""
    if not 0 < alpha_ppm <= 1_000_000:
        raise ValueError("alpha_ppm must be in (0, 1e6]")
    if not 0 <= beta_ppm <= 1_000_000:
        raise ValueError("beta_ppm must be in [0, 1e6]")
    from ..operators import trends as _trends

    keys, order = list(key_cols), list(order_cols)

    def smooth(batch_df, seed):
        return _trends.holt_smoothing(
            batch_df, keys, order, value_col, alpha_ppm, beta_ppm,
            state=seed,
        )

    return _make_smoother_sink(
        out_path, keys, order, ["level_micro", "trend_micro"], smooth
    )


def compact_smoother_state(
    spark,
    out_path: str,
    key_cols: list[str],
    upto_batch: int,
) -> int:
    """Collapse a smoother sink's state dirs (make_ewma_sink /
    make_holt_sink) with batch_id ≤ `upto_batch` into ONE dir holding
    each key's latest state — the seeding read scans every state dir,
    so an uncompacted long stream pays O(batches) there (the same
    write-amplification class the components/SCD2 sinks compact
    away).  Only compact batches the stream has committed past (the
    merged dir sits under the highest compacted id, so a replayed
    batch seeds identically).  Returns the compacted row count (=
    distinct keys seen).  Local filesystem only (loud ValueError
    otherwise)."""
    keys = list(key_cols)
    return store.compact(
        spark, f"{out_path}/state", upto_batch,
        lambda rows: store.last_per_key(rows, keys),
    )


def make_attribution_sink(
    out_path: str,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback_minutes: int,
    model: str = "linear",
):
    """foreachBatch multi-touch attribution — the streaming face of
    `windows.multi_touch_attribution`: each micro-batch attributes
    ITS conversions against a rolling TOUCH STORE (touches from prior
    batches still inside the lookback window) plus the batch's own
    touches, writes credit rows under ``rows/batch_id=N`` and the
    PRUNED store under ``touches/batch_id=N``.

    State is O(lookback window), not O(stream): the store is pruned
    to touches newer than (max event ts seen) − lookback, sound
    under the cross-batch order-monotonicity contract (future
    conversions carry ts ≥ the current max, so nothing older can
    ever qualify again).  The store is REWRITTEN per batch (LWW —
    the reader takes the newest dir), so the write amplification is
    the window size, documented and bounded — the components-delta
    trade does not apply because the window prunes itself.

    Replay: batch N seeds from the newest store with batch_id < N —
    re-running the newest batch is byte-identical.  N-batch
    incremental ≡ one-shot `multi_touch_attribution` on the
    concatenated stream is pytest-pinned (conversions are
    batch-local, so the union of per-batch rows IS the one-shot
    output)."""
    keys = list(key_cols)
    lb_us = int(lookback_minutes) * 60_000_000

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = [*keys, id_col, ts_col, type_col]
        batch_slim = batch_df.select(*cols)
        prior = store.latest(spark, f"{out_path}/touches", batch_id)
        full = (
            batch_slim if prior is None
            else prior.select(*cols).unionByName(batch_slim)
        )
        attributed = windows.multi_touch_attribution(
            full, keys, ts_col, id_col, type_col,
            conversion_type, list(touch_types), lookback_minutes, model,
        )
        # conversions are batch-local: prior stores hold TOUCHES only
        rows = attributed.localCheckpoint(eager=True)
        store.write(rows, f"{out_path}/rows", batch_id)
        wm = full.agg(
            F.max(F.unix_micros(F.col(ts_col).cast("timestamp")))
            .alias("m")
        ).first()["m"]
        floor_us = (wm or 0) - lb_us
        new_store = full.filter(
            F.col(type_col).isin(list(touch_types))
            & (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                >= F.lit(int(floor_us))
            )
        )
        new_store = new_store.localCheckpoint(eager=True)
        store.write(new_store, f"{out_path}/touches", batch_id)

    return sink


def read_attribution_rows(spark, out_path: str):
    """All credit rows of a `make_attribution_sink` table (per-batch
    independent once written)."""
    return spark.read.parquet(f"{out_path}/rows")


def make_coreness_sink(
    out_path: str,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
):
    """foreachBatch ΔK-core maintenance over a CDC edge stream — the
    component sink's density sibling: each micro-batch APPENDS its
    edges to the persisted undirected edge store
    (``edges/batch_id=N``, batch-distinct rows) and refreshes the
    per-node coreness labels as a FULL VERSIONED SNAPSHOT
    (``labels/batch_id=N``) via `graph.coreness_hindex` SEEDED from
    the latest prior snapshot with the batch's edge count as the
    insertion bound — so the fixpoint iteration converges in a
    handful of rounds on a small delta instead of a cold recompute
    (the ΔK-core contract, SCALING §28; incremental ≡ full is the
    operator's own pinned theorem).

    Unlike components, coreness has no contracted incremental form —
    one inserted edge can raise core numbers far from its endpoints,
    so the refresh must SEE the whole edge store; what the seeding
    buys is ROUNDS, not scan avoidance.  Per batch: one edge-store
    read (dirs < N plus the batch — replay-safe by construction), a
    few fixed-shape h-index rounds, one nodes-sized label write.

    Crash replay: a replayed batch N reconstructs from dirs < N and
    overwrites BOTH its dirs — byte-identical (pinned in pytest).
    Edge-store growth is O(stream); run `compact_coreness_edges`
    periodically (committed-past batches only) to keep the
    reconstruction read bounded, the smoother/components compaction
    cadence."""

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from ..operators import graph as graph_ops

        batch_edges = (
            batch_df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        all_edges = _edges_with(spark, out_path, batch_edges, batch_id)
        prior = store.latest(spark, f"{out_path}/labels", batch_id)
        if prior is None:
            labels = graph_ops.coreness_hindex(
                all_edges, "src", "dst", max_rounds=max_rounds
            )
        else:
            labels = graph_ops.coreness_hindex(
                all_edges, "src", "dst",
                prior=prior, inserted_edges=batch_edges.count(),
                max_rounds=max_rounds,
            )
        store.write(labels.localCheckpoint(eager=True), f"{out_path}/labels", batch_id)
        store.write(batch_edges, f"{out_path}/edges", batch_id)

    return sink


def _edges_with(spark, out_path: str, batch_edges, batch_id: int):
    """The graph sinks' edge set as of batch `batch_id`: the store's
    dirs < N (a replay never sees its own partial write) merged with
    the batch's own edges."""
    prev = store.read(spark, f"{out_path}/edges")
    tagged = batch_edges.withColumn("batch_id", F.lit(batch_id))
    if prev is not None:
        tagged = prev.filter(F.col("batch_id") < batch_id).unionByName(tagged)
    return _merge_edges(tagged)


def _merge_edges(rows):
    """Edge-store merge of rows with batch_id: unweighted stores
    dedupe; weighted stores (a `w` column) keep the newest batch's
    weight per (src, dst), ties inside a batch to the larger weight."""
    if "w" in rows.columns:
        return store.last_per_key(rows, ["src", "dst"], F.col("w").desc())
    return rows.drop("batch_id").distinct()


def read_coreness_labels(spark, out_path: str):
    """The current coreness table of a `make_coreness_sink` store:
    simply the latest full snapshot (labels are versioned whole).
    Cluster-safe basePath read; raises FileNotFoundError on an empty
    or missing store (asking for labels that don't exist is a caller
    error, not a cold start)."""
    labels = store.latest(spark, f"{out_path}/labels", None)
    if labels is None:
        raise FileNotFoundError(f"no label snapshots under {out_path}/labels")
    return labels


def compact_coreness_edges(spark, out_path: str, upto_batch: int) -> int:
    """Collapse edge dirs with batch_id ≤ `upto_batch` into ONE
    dir (kept under the highest compacted id, so a replay of
    any batch > upto_batch reads the identical edge set).  Unweighted
    stores dedupe with distinct(); weighted stores (a `w` column —
    the pagerank sink) keep the LATEST batch's weight per (src, dst),
    matching the sinks' own last-writer-wins reconstruction.  Only
    compact batches the stream has committed past.  Local filesystem
    only (loud ValueError otherwise).  Returns the compacted count."""
    return store.compact(spark, f"{out_path}/edges", upto_batch, _merge_edges)


def make_pagerank_sink(
    out_path: str,
    src: str = "src",
    dst: str = "dst",
    iters: int = 100,
    damping_ppm: int = 850_000,
    weight_col: str | None = None,
    check_every: int = 1,
):
    """foreachBatch PageRank maintenance — the coreness sink's
    authority sibling, closing the streaming graph family
    (components / ΔK-core / PageRank): each micro-batch appends its
    edges to the persisted store and refreshes the score table via
    `graph.pagerank(init_scores=<latest snapshot>, tol_micro=0)` —
    WARM-STARTED, so a small edge delta converges in a handful of
    full-edge iterations instead of the cold budget, and the snapshot
    is an exact integer fixed point of the new graph's map.  Same layout and contracts as `make_coreness_sink`:
    ``edges/batch_id=N`` appends, ``labels/batch_id=N`` full score
    snapshots, replay reconstructs from dirs < N and overwrites
    (byte-identical), `compact_coreness_edges` bounds the store read
    (the layout is shared, so the same helper compacts both).

    Weighted stores reconstruct LAST-WRITER-WINS per (src, dst): a
    CDC weight update in batch N overrides the weight an earlier
    batch stored for the same edge (ties inside one batch break by
    the larger weight, deterministically — pre-dedupe the batch if
    that's not the semantics you want).  Without this, an updated
    edge would keep BOTH weight rows in the distinct edge list and
    be silently double-counted.

    `check_every` forwards to graph.pagerank (r13): at
    ``tol_micro=0`` the snapshot is bit-identical for any value, so
    latency-bound deployments (small graphs, test fixtures) can chunk
    the convergence barrier; keep 1 when an iteration is a full-scale
    edge shuffle."""
    if iters < 1:
        raise ValueError("iters must be >= 1")

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from ..operators import graph as graph_ops

        cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
        if weight_col is not None:
            cols.append(F.col(weight_col).alias("w"))
        batch_edges = (
            batch_df.select(*cols)
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
            .localCheckpoint(eager=True)
        )
        all_edges = _edges_with(spark, out_path, batch_edges, batch_id)
        prior = store.latest(spark, f"{out_path}/labels", batch_id)
        scores = graph_ops.pagerank(
            all_edges, iters=iters, damping_ppm=damping_ppm,
            weight_col="w" if weight_col is not None else None,
            tol_micro=0, init_scores=prior,
            check_every=check_every,
        )
        store.write(scores.localCheckpoint(eager=True), f"{out_path}/labels", batch_id)
        store.write(batch_edges, f"{out_path}/edges", batch_id)

    return sink


def make_anonymized_release_sink(
    out_path: str,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
    l_distinct: int | None = None,
):
    """foreachBatch k-ANONYMOUS RELEASE — the streaming twin of
    `textstats.enforce_k_anonymity`, completing the privacy tier: a
    CDC row stream is released only as its quasi-identifier class
    reaches the (k, l) policy OVER THE WHOLE HISTORY, with rows that
    arrive before their class qualifies PARKED and released the batch
    the class crosses the threshold.

    Monotonicity makes exactly-the-batch-operator semantics possible
    incrementally: class counts and sensitive-distinct counts only
    grow, so a class that passes stays passed — early releases are
    never wrong, parked rows are released at most once, and the union
    of all released dirs equals one-shot `enforce_k_anonymity` over
    the union of all batches (pytest-pinned parity).

    Store layout (the graph-sink contract — cluster-safe basePath
    reads, batch_id-scoped overwrites, replay from dirs < N is
    byte-identical):

      counts/batch_id=N    full (quasi-class, sensitive-value)-grain
                           count snapshot — the merged state
      released/batch_id=N  rows whose class qualified AT batch N
                           (the batch's own rows + newly unparked)
      pending/batch_id=N   full snapshot of still-parked rows

    Per batch: one class-grain merge groupBy, one classes-sized
    filter, one semi- and one anti-join of (batch ∪ pending) rows
    against the passing classes — O(batch + pending + classes), never
    O(history).  Disk growth is one counts + one pending snapshot per
    batch; run `expire_anonymized_state` periodically (committed-past
    batches only) to keep it at O(1) snapshots — pure deletion, the
    snapshots are versioned whole.  The counts store is (class,
    sensitive-value) grain — exactly what exact l-diversity costs
    (the batch operator's countDistinct shuffles the same grain); a
    high-cardinality sensitive column (user ids) makes that state
    large, so pick a sensitive ATTRIBUTE (diagnosis, sign, bucket),
    not an identifier — the audit is about attribute disclosure.  Sensitive values are compared AS STRINGS in the
    store (cast once), matching countDistinct over string sensitives;
    for NON-string sensitive columns whose distinct raw values
    collide (or split) under string rendering, the sink's l-count can
    differ from the batch operator's raw-typed countDistinct — the
    one-shot-parity guarantee therefore holds for STRING sensitives
    (r12, advisor finding; use a string attribute or pre-render the
    column consistently on both paths).
    NULL sensitive rows count toward k but never toward l (the batch
    operator's convention).  The suppression-bias warning from the
    batch operator applies doubly here: pending rows are the rare
    classes AND the recent arrivals."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if (sensitive_col is None) != (l_distinct is None):
        raise ValueError("give sensitive_col and l_distinct together")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    from ..operators.textstats import _quasi_keys, _quasi_names

    qnames = _quasi_names(quasi_cols)

    def sink(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qkeys = _quasi_keys(quasi_cols)
        sv = (
            F.col(sensitive_col).cast("string")
            if sensitive_col is not None
            else F.lit(None).cast("string")
        )
        batch_counts = (
            batch_df.select(*qkeys, sv.alias("_sv"))
            .groupBy(*qnames, "_sv")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        prior_counts = store.latest(spark, f"{out_path}/counts", batch_id)
        merged = (
            batch_counts if prior_counts is None
            else prior_counts.unionByName(batch_counts)
            .groupBy(*qnames, "_sv")
            .agg(F.sum("n").cast("long").alias("n"))
        ).localCheckpoint(eager=True)
        passing = merged.groupBy(*qnames).agg(
            F.sum("n").alias("_n"),
            F.count(F.col("_sv")).alias("_l"),  # count() skips NULL sv
        ).filter(
            (F.col("_n") >= k)
            & (
                F.col("_l") >= l_distinct
                if l_distinct is not None else F.lit(True)
            )
        ).select(*qnames)
        prior_pending = store.latest(spark, f"{out_path}/pending", batch_id)
        candidates = (
            batch_df if prior_pending is None
            else batch_df.unionByName(prior_pending)
        ).select("*", *qkeys)
        released = candidates.join(passing, qnames, "left_semi") \
            .drop(*qnames).localCheckpoint(eager=True)
        pending = candidates.join(passing, qnames, "left_anti") \
            .drop(*qnames).localCheckpoint(eager=True)
        store.write(released, f"{out_path}/released", batch_id)
        store.write(pending, f"{out_path}/pending", batch_id)
        store.write(merged, f"{out_path}/counts", batch_id)

    return sink


def read_released_rows(spark, out_path: str):
    """All rows a `make_anonymized_release_sink` store has released so
    far (per-batch dirs are disjoint by construction: a row is
    released exactly once, the batch its class qualified)."""
    return spark.read.option(
        "basePath", f"{out_path}/released"
    ).parquet(f"{out_path}/released").drop("batch_id")


def expire_anonymized_state(out_path: str, upto_batch: int) -> int:
    """Retention for a `make_anonymized_release_sink` store: delete
    counts/ and pending/ snapshot dirs with batch_id < `upto_batch`.
    Both stores are FULL snapshots versioned whole, so old dirs are
    never read again once the stream has committed past them: a
    replay can only be of a batch N > last-committed, and it reads
    the single LATEST dir < N — which survives as long as
    `upto_batch` ≤ last-committed (a replayed batch N ≥ upto_batch+1
    still finds a dir ≥ upto_batch).  Never expire past the commit
    log.  Unlike the graph edge stores there
    is nothing to merge: retention is pure deletion, O(dirs) metadata
    ops.  released/ dirs are NEVER touched (they ARE the output).
    Local filesystem only (loud ValueError otherwise).  Returns the
    number of dirs deleted."""
    return sum(
        store.expire(f"{out_path}/{sub}", upto_batch)
        for sub in ("counts", "pending")
    )
