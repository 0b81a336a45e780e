"""Windowed aggregation operators (SURVEY.md §2.4 A1-A6, A12-A13;
§2.8 T1-T2).

The reference keeps multi-window counters in Redis zsets keyed by
hour/minute buckets (advanced_trend_analyzer.py:68-91) and tumbling
Kafka Streams windows (AlertTopology.java:58-59,88-89).  Spark-first
design: ONE minute- or hour-grain base aggregate, partitioned by
bucket, with every coarser window derived by re-aggregation — so the
expensive shuffle over the raw stream happens once, and rollups
shuffle only the (bucket × key) aggregate, which is orders of
magnitude smaller.  That is the strategy that survives 100 TB.

These transforms are batch/stream agnostic: applied to a streaming
DataFrame with a watermark they become stateful streaming aggs; on a
static DataFrame they are the same query in batch mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def windowed_count(
    df: DataFrame, ts_col: str, key_col: str, duration: str, slide: str | None = None
) -> DataFrame:
    """A1/A4/T2: tumbling (or, with `slide`, sliding) window count per
    key (AlertTopology.java:86-91).  Works in batch and streaming.
    Output: window_start, window_end, key, cnt."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            F.col(key_col),
            F.col("cnt"),
        )
    )


def session_window_counts(
    df: DataFrame, ts_col: str, key_col: str, gap: str = "30 minutes"
) -> DataFrame:
    """T4: session windows — events merge while each arrives within
    `gap` of the session's end (not in the reference, which has no
    session semantics; provided for API completeness).  Works in batch
    and streaming (streaming requires a watermark)."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col(key_col),
            F.col("cnt"),
        )
    )


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap_minutes: int = 30,
    order_cols: list[str] | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Row-level sessionization: assign every event its key-scoped
    session ordinal (1-based) — a new session starts when the gap
    from the key's previous event exceeds `gap_minutes`.  The
    row-grain complement of `session_window_counts` (which only
    aggregates): sequence models, per-session funnels and Markov
    chains all consume events WITH a session id, not session counts.

    Exactness: the gap test is integer microseconds
    (``unix_micros(ts) − unix_micros(prev) > gap·60e6``), the ordinal
    a running sum of new-session flags — no timestamp arithmetic
    seams.  `order_cols` breaks timestamp ties deterministically
    (same-ts events otherwise make lag() partition-order-dependent);
    pass the event id.

    Shape: ONE key-partitioned window (lag + running count reuse the
    same sort) — a single shuffle on the session key, no join, no
    self-comparison.  100 TB: exactly the shuffle a later
    groupBy(key, session_id) needs, so downstream session aggregates
    are co-partitioned for free."""
    if gap_minutes <= 0:
        raise ValueError("gap_minutes must be > 0")
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    new_flag = F.when(
        prev_us.isNull()
        | ((ts_us - prev_us) > F.lit(int(gap_minutes) * 60_000_000)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        out_col,
        F.sum(new_flag)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )


def topk_per_window(
    counts: DataFrame, k: int, partition_cols: list[str], count_col: str = "cnt",
    key_col: str = "keyword",
) -> DataFrame:
    """A5: top-k keywords per window (heapq.nlargest(50) in the
    reference, realtime_keyword_aggregator.py:163-181).

    row_number (not rank) so exactly k rows survive; the tiebreak on the
    key keeps results deterministic for the oracle.  Physical plan:
    partial top-k inside each shuffle partition via
    WindowGroupLimit pushdown (Spark ≥3.5) — no full sort."""
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col(count_col).desc(), F.col(key_col).asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def topk_global(counts: DataFrame, k: int, count_col: str = "cnt", key_col: str = "keyword") -> DataFrame:
    """A6: global top-k — orderBy+limit lowers to TakeOrderedAndProject
    (per-partition heap + driver merge, no full shuffle sort)."""
    return counts.orderBy(F.col(count_col).desc(), F.col(key_col).asc()).limit(k)


def wordcloud_rollup(counts: DataFrame, partition_cols: list[str], key_col: str = "keyword") -> DataFrame:
    """A13: total + unique-keyword rollup per window
    (realtime_keyword_aggregator.py:174-181)."""
    return counts.groupBy(*partition_cols).agg(
        F.sum("cnt").alias("total_count"),
        F.countDistinct(key_col).alias("unique_keywords"),
    )


def breaking_word_stats(
    df: DataFrame,
    ts_col: str,
    category_col: str,
    text_col: str,
    source_col: str,
    duration: str = "5 minutes",
) -> DataFrame:
    """A12 fused: per (window, category) — tokenize text, count word
    frequencies, expose max word count + distinct sources
    (AlertAnalyzer.java:13-43) without materializing per-window lists.

    Two-level aggregation: (window, category, word) counts first
    (map-side partial aggregation applies), then per (window, category)
    max + a distinct-source count computed on the pre-explode rows and
    joined back — at 100 TB this is two small shuffles instead of a
    collect_list of raw articles."""
    from ..util import spread

    df = spread(df)
    win = F.window(F.col(ts_col), duration).alias("w")
    # explode-then-filter rather than a higher-order array filter: the
    # lambda form is interpreted per element outside codegen; the
    # post-explode predicate stays in the codegen stage
    words = df.select(
        win, F.col(category_col).alias("category"), F.col(source_col).alias("source"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    word_counts = words.groupBy("w", "category", "word").agg(
        F.count(F.lit(1)).alias("word_cnt")
    )
    per_group = word_counts.groupBy("w", "category").agg(
        F.max("word_cnt").alias("max_word_cnt"),
        F.max_by("word", "word_cnt").alias("top_word"),
    )
    # exact distinct in batch; approx (HLL) in streaming where exact
    # distinct aggregation is unsupported — the reference's rule only
    # needs ≥3 sources, well within HLL accuracy (AlertConfig.java:30-34)
    distinct_sources = (
        F.approx_count_distinct("source") if df.isStreaming else F.countDistinct("source")
    )
    sources = (
        df.select(F.window(F.col(ts_col), duration).alias("w"),
                  F.col(category_col).alias("category"),
                  F.col(source_col).alias("source"))
        .groupBy("w", "category")
        .agg(distinct_sources.alias("distinct_sources"),
             F.count(F.lit(1)).alias("article_cnt"))
    )
    return (
        F.broadcast(per_group).join(sources, ["w", "category"])
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "category", "top_word", "max_word_cnt", "distinct_sources", "article_cnt",
        )
    )


def breaking_word_stats_factored(
    fact: DataFrame,
    dim: DataFrame,
    join_key,
    ts_col: str,
    category_col: str,
    text_col: str,
    source_col: str,
    duration: str = "5 minutes",
    dim_key: str = "doc_id",
) -> DataFrame:
    """breaking_word_stats for the fact ⋈ text-dimension case: when the
    text rides in on a dimension join (article events referencing a
    bounded article table), word counts FACTOR as

        word_cnt(w, cat, word) = Σ_doc  ev_cnt(w, doc) × wcnt(doc, word)

    so each document's text is tokenized ONCE, not once per referencing
    event.  Explode cost drops from O(|fact| × tokens/doc) to
    O(|dim| × tokens/doc + |fact|) — at 100 TB the fact stream is
    billions of rows against a bounded dimension, which makes the
    naive explode the dominant cost and this rewrite a ~|fact|/|dim|×
    reduction in Generate output.

    `join_key` is the fact-side expression equated with ``dim_key``.
    Output matches breaking_word_stats minus top_word (max_by ties are
    engine-specific; the alert rule only needs max_word_cnt).

    r12 single-fact-pass shape: the old formulation consumed `ev_cnt`
    in TWO branches (word counts and per-source stats) and Spark/AQE
    does not reuse the exchange across them (verified on the executed
    plan: 0 ReusedExchange, the fact scanned + window-aggregated
    twice) — at 100 TB that is two full passes over the billions-row
    fact stream.  Now the fact is aggregated ONCE and joined once to a
    combined per-doc payload (word-count array + category + source)
    carrying a NULL-word SENTINEL element per doc, so one exploded
    frame feeds a stacked aggregate:
      g1 (w, category, word): word_cnt = Σ ev_cnt·wcnt, plus the
         sentinel group's countDistinct(source) / Σ ev_cnt;
      g2 (w, category): max word_cnt over REAL words; the
         distinct_sources / article_cnt ride the sentinel row.
    A (w, category) whose docs have no words has only the sentinel
    group → max_word_cnt NULL → filtered, exactly matching the old
    inner join of per_group with sources.  Hash-pinned identical on
    the gate corpus + wordless-doc edge fixtures.
    """
    from ..util import spread

    win = F.window(F.col(ts_col), duration).alias("w")
    # per-(window, doc) reference counts — THE only pass over the fact
    ev_cnt = (
        spread(fact)
        .select(win, join_key.alias(dim_key))
        .groupBy("w", dim_key)
        .agg(F.count(F.lit(1)).alias("ev_cnt"))
    )
    # per-doc word counts — one tokenize per document — collected back
    # to one array per doc so the fact side joins the dim exactly once
    doc_words = (
        dim.select(
            F.col(dim_key),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy(dim_key, "word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .groupBy(dim_key)
        .agg(F.collect_list(F.struct("word", "wcnt")).alias("_words"))
    )
    combined = (
        dim.select(F.col(dim_key), F.col(category_col).alias("category"),
                   F.col(source_col).alias("source"))
        .join(doc_words, dim_key, "left")
        .select(
            dim_key, "category", "source",
            F.concat(
                F.coalesce(
                    F.col("_words"),
                    F.expr(
                        "CAST(array() AS array<struct<word:string,wcnt:bigint>>)"
                    ),
                ),
                F.array(F.struct(
                    F.lit(None).cast("string").alias("word"),
                    F.lit(0).cast("bigint").alias("wcnt"),
                )),
            ).alias("_words"),
        )
    )
    # No broadcast hint: `combined` carries every doc's full word-count
    # array — bounded at bench scale, but corpus-text-sized at 100 TB,
    # where a forced hint would bypass AQE's size check and OOM the
    # driver.  The planner (autoBroadcastJoinThreshold / AQE) still
    # picks a broadcast join when the dim side is genuinely small.
    exploded = (
        ev_cnt.join(combined, dim_key)
        .select("w", "category", "source", "ev_cnt",
                F.explode("_words").alias("_wd"))
        .select("w", "category", "source", "ev_cnt",
                F.col("_wd.word").alias("word"),
                F.col("_wd.wcnt").alias("wcnt"))
    )
    sent = F.col("word").isNull()
    g1 = exploded.groupBy("w", "category", "word").agg(
        F.sum(F.col("ev_cnt") * F.col("wcnt")).alias("word_cnt"),
        F.count_distinct(F.when(sent, F.col("source"))).alias("_ds"),
        F.sum(F.when(sent, F.col("ev_cnt"))).alias("_ac"),
    )
    g2 = g1.groupBy("w", "category").agg(
        F.max(F.when(F.col("word").isNotNull(), F.col("word_cnt")))
        .alias("max_word_cnt"),
        F.max(F.when(sent, F.col("_ds"))).alias("distinct_sources"),
        F.max(F.when(sent, F.col("_ac"))).alias("article_cnt"),
    )
    return g2.filter(F.col("max_word_cnt").isNotNull()).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "category", "max_word_cnt", "distinct_sources", "article_cnt",
    )


def transition_counts(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_col: str,
    min_count: int = 1,
) -> DataFrame:
    """First-order Markov transition table over per-key event
    sequences — the user-journey / state-machine analytics primitive
    (what follows a 'view'? where do sessions go after 'checkout'?):
    (from_state, to_state, cnt, p_ppm) where p_ppm is the exact
    integer row-conditional probability ``cnt·1e6 div Σcnt(from)``.

    One window lag per key (ordered by `order_cols` — include a
    unique tiebreaker like the event id, or ties make the sequence
    nondeterministic), one groupBy(from, to) with map-side combine,
    and one per-from window sum (states are few — this window is over
    the TRANSITION TABLE, never the events).  Keys partition the lag,
    so no cross-key transitions are fabricated."""
    if not key_cols or not order_cols:
        raise ValueError("need key_cols and order_cols")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    pairs = (
        df.select(
            F.lag(state_col).over(w).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
    )
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = Window.partitionBy("from_state")
    return (
        counts.withColumn("_tot", F.sum("cnt").over(tot))
        .filter(F.col("cnt") >= min_count)
        .select(
            "from_state", "to_state", "cnt",
            F.expr("CAST(cnt * 1000000 div _tot AS BIGINT)").alias("p_ppm"),
        )
    )


def funnel_report(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    state_col: str,
    steps: list[str],
    max_span=None,
) -> DataFrame:
    """k-step funnel conversion — the product-analytics staple (view →
    click → signup → purchase): a key reaches step i at its EARLIEST
    `steps[i]` event STRICTLY AFTER its step i−1 time (ordered
    progression, not mere presence).  Output: one row per step —
    (step_idx, step, n_reached, conv_from_first_ppm,
    conv_from_prev_ppm), all conversions exact integer ppm.

    ``max_span`` adds the CONVERSION DEADLINE every real funnel has
    (ClickHouse windowFunnel semantics): every step must land within
    `max_span` of the key's STEP-0 time — a purchase three months
    after the view is not that view converting.  Pass a SQL interval
    string ("48 hours") for timestamp columns or a number for
    numeric time columns.  Deadline semantics, not re-anchoring: the
    window is pinned to the first step (the anchor never slides), and
    a key's earliest step-0 event is the anchor even if a later
    step-0 event would have converted — the standard fixed-anchor
    reading, value-checked in the gate.

    Plan shape: k passes, each one filtered aggregation over the
    events (min ts per key) + one equi-join on the key against the
    previous step's (keys-sized, not events-sized) table — no window
    over raw events, no per-key collect.  Each step's keys-sized
    frame is pinned with ``localCheckpoint(eager=True)`` before it is
    counted AND reused by the next step, so step i's count never
    re-evaluates steps 1..i−1's joins: a k-step funnel scans the
    events table exactly k times (once per step), not k²/2.  The
    deadline rides the SAME joins (the anchor column is carried in
    the keys-sized frame) — zero extra passes.  k is small and
    fixed; at 100 TB the events scan dominates and is paid once per
    step (fuse by pre-filtering `state_col ∈ steps` before calling
    if the event universe is much wider than the funnel)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    keys = list(key_cols)
    prev = (
        df.filter(F.col(state_col) == steps[0])
        .groupBy(*keys)
        .agg(F.min(ts_col).alias("_t"))
        .withColumn("_t0", F.col("_t"))
        .localCheckpoint(eager=True)
    )
    deadline = None
    if max_span is not None:
        delta = (
            F.expr(f"INTERVAL {max_span}")
            if isinstance(max_span, str) else F.lit(max_span)
        )
        deadline = lambda: F.col("_ts") <= F.col("_t0") + delta  # noqa: E731
    counts = [prev.count()]
    for step in steps[1:]:
        ev = df.filter(F.col(state_col) == step).select(
            *keys, F.col(ts_col).alias("_ts")
        )
        stepped = ev.join(prev, keys).filter(F.col("_ts") > F.col("_t"))
        if deadline is not None:
            stepped = stepped.filter(deadline())
        prev = (
            stepped.groupBy(*keys, "_t0")
            .agg(F.min("_ts").alias("_t"))
            .localCheckpoint(eager=True)
        )
        counts.append(prev.count())
    spark = df.sparkSession
    first = counts[0]
    rows = []
    for i, (step, n) in enumerate(zip(steps, counts)):
        conv_first = (n * 1_000_000) // first if first else 0
        prev_n = counts[i - 1] if i else n
        conv_prev = (n * 1_000_000) // prev_n if prev_n else 0
        rows.append((i, step, n, conv_first, conv_prev))
    return spark.createDataFrame(
        rows,
        "step_idx int, step string, n_reached long, "
        "conv_from_first_ppm long, conv_from_prev_ppm long",
    )


def rollup_counts(
    df: DataFrame, dims: list[str], mode: str = "rollup"
) -> DataFrame:
    """OLAP ROLLUP in one pass: counts at every prefix granularity of
    `dims` (d1×d2, d1, grand total for dims=[d1, d2]) — the
    drill-down surface every BI layer asks of an analytics engine,
    expressed as Spark's native GROUPING SETS so the whole hierarchy
    is ONE partial-aggregated job, never one groupBy per level.

    Output: dims (NULL at aggregated levels) + one ``g_<dim>`` 0/1
    flag per dim (F.grouping — disambiguates a real NULL value from
    the rollup placeholder) + cnt.  Engine-portable: GROUPING(col) is
    standard SQL, unlike the engine-specific grouping_id bit order."""
    if not dims:
        raise ValueError("need at least one dim")
    if mode not in ("rollup", "cube"):
        raise ValueError("mode must be rollup|cube")
    grouped = df.cube(*dims) if mode == "cube" else df.rollup(*dims)
    return grouped.agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.grouping(d).cast("int").alias(f"g_{d}") for d in dims],
    )


def cohort_retention(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    day (the cohort), and for every later day the share of the cohort
    still active — the standard growth-analytics view (day-0 row is
    the cohort size itself, retention 1e6 ppm by construction).

    Output: (cohort_day, offset_days, n_active, n_cohort,
    retention_ppm) with ``retention_ppm = n_active·1e6 div
    n_cohort`` — exact integer arithmetic throughout; only
    (cohort, offset) pairs with at least one active user appear
    (zero-fill is a presentation concern; F.sequence the offsets if a
    dense matrix is needed).

    Shape: one user-keyed aggregate (first day per user — map-side
    combined), one distinct over (user, day) activity, a broadcast-
    able cohort join (users-sized), and one (cohort, offset) count.
    Every shuffle key is the user or the small matrix key; the events
    table is scanned exactly ONCE — the projected (user, day)
    distinct frame is pinned with ``localCheckpoint(eager=True)`` (the
    engine's seam pattern, cf. funnel_report) and BOTH the cohort
    aggregate and the activity join derive from the pin, so adding
    the first-day branch never re-reads the events table (pinned by
    an accumulator-tap scan-count test)."""
    if not key_cols:
        raise ValueError("need key_cols")
    keys = [F.col(c) for c in key_cols]
    day = F.date_trunc("day", F.col(ts_col)).alias("_day")
    acts = df.select(*keys, day).distinct().localCheckpoint(eager=True)
    cohorts = acts.groupBy(*key_cols).agg(F.min("_day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    joined = acts.join(cohorts, key_cols).select(
        "cohort_day",
        F.datediff(F.col("_day"), F.col("cohort_day")).alias("offset_days"),
    )
    active = joined.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    return active.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "offset_days",
        "n_active",
        "n_cohort",
        F.expr("(n_active * 1000000) div n_cohort").cast("long").alias(
            "retention_ppm"
        ),
    )


def pivot_counts(
    df: DataFrame,
    row_cols: list[str],
    col_col: str,
    col_values: list,
    fill: int = 0,
) -> DataFrame:
    """Crosstab: one row per `row_cols`, one count column per value in
    `col_values` — the wide OLAP view rollup_counts' long form feeds
    (status × priority matrices, lang × source corpus balance
    tables).

    `col_values` is REQUIRED and explicit, for two reasons the 100 TB
    path cares about: (1) Spark's value-less pivot runs an extra
    distinct-discovery job and caps at
    spark.sql.pivotMaxValues, and (2) the output SCHEMA becomes
    data-dependent — a downstream writer's table would gain columns
    whenever a new value appears.  With values pinned, the plan is
    ONE partial-aggregated job (each pivot cell a conditional count)
    and the schema is a contract.  Absent (row, value) cells fill
    with `fill` (0 — a crosstab's empty cell is a zero count, not
    unknown); rows whose col value is outside `col_values` count
    toward no pivot column (add a sentinel value to catch strays)."""
    if not col_values:
        raise ValueError("need explicit col_values")
    out = df.groupBy(*row_cols).pivot(col_col, list(col_values)).count()
    return out.na.fill(int(fill), [str(v) for v in col_values])


def ohlc_bars(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Time-series downsampling to open/high/low/close bars per key
    per time bucket — the query every metric/price/rate dashboard
    runs over raw event streams, and the canonical "keep the shape,
    drop the volume" reduction before long-horizon storage (1e12 raw
    points → 1e7 hourly bars).

    Output: key cols + (bucket_start, open, high, low, close, n_rows,
    sum_value).  ``open``/``close`` are the values at the bucket's
    MIN/MAX (ts, tiebreak) — the tiebreak column (an event id) makes
    same-timestamp opens/closes deterministic, the engine's
    sessionize/scd2 ordering contract.  NULL values are excluded.

    Shape: ONE partial-aggregated groupBy on (key, bucket) — no
    window function, no sort, and critically no SortAggregate:
    open/close ride as ``min_by/max_by`` over a PRIMITIVE ordering
    key (``ts_us·2⁶⁴ + tiebreak`` packed into DECIMAL(38,0) — a
    struct ordering key would flip the whole aggregate to
    SortAggregate, paying an in-partition sort of the raw stream;
    the decimal keeps it HashAggregate, verified in the plan test).
    Map-side combine does the heavy lifting: reducer input is bars,
    not events.  `bucket` is a date_trunc unit
    (minute/hour/day/week/...) so the bucketing is a pure column
    expression, partition-prunable on date-partitioned layouts.
    Contract: ts ≥ epoch and tiebreak values non-negative (the
    packing is order-preserving only for non-negative components)."""
    v = F.col(value_col)
    rows = df.filter(v.isNotNull())
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    pin = ts_us.cast("decimal(38,0)") * F.expr(
        "CAST(18446744073709551616 AS DECIMAL(20,0))"
    )
    if tiebreak_col is not None:
        pin = pin + F.col(tiebreak_col).cast("decimal(38,0)")
    return (
        rows.groupBy(
            *key_cols, F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start")
        )
        .agg(
            F.min_by(v, pin).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, pin).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(v).alias("sum_value"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Time-weighted average of an irregularly-sampled STEP series
    per key — the correct mean for state metrics (gauge values,
    prices, queue depths) where a plain AVG over-weights bursty
    sampling: each sample holds until the next one (zero-order hold),
    so its weight is the time it was in force, not 1.

    Exactness: values quantize to integer micros, segment durations
    are exact integer microseconds, the weighted sum is a
    DECIMAL(38,0) Σ v_micro·Δt_us (order-free), and
    ``twa_micro = weighted_sum div span_us`` — exact integral
    division, engine-portable.  The LAST sample of a key has no
    successor and carries zero weight (the series is only observed
    over [first, last]); a key with a single sample (span 0) reports
    its own value.  NULL values are excluded before segmentation
    (the preceding sample's hold simply extends — the standard
    gap-skip reading).  `order_cols` breaks ts ties (sessionize
    contract).

    Shape: ONE key-partitioned window (lead over the same sort a
    downstream per-key consumer wants) + one partial-aggregated
    groupBy — a single shuffle on the key.  Output: key cols +
    (n_samples, span_us, weighted_sum, twa_micro)."""
    v = F.col(value_col)
    rows = df.filter(v.isNotNull())
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    v_micro = F.expr(f"CAST(round({value_col} * 1000000, 0) AS BIGINT)")
    seg = (
        rows.withColumn("_us", ts_us)
        .withColumn("_vm", v_micro)
        .withColumn("_nxt", F.lead("_us").over(w))
    )
    dec = "decimal(38,0)"
    agg = seg.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        (F.max("_us") - F.min("_us")).cast("long").alias("span_us"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("_nxt").isNotNull(),
                    F.col("_vm").cast(dec) * (F.col("_nxt") - F.col("_us")),
                )
            ),
            F.lit(0).cast(dec),
        ).alias("weighted_sum"),
        # used only when span_us == 0, i.e. EVERY sample shares one
        # instant — min value is then deterministic, and a plain min
        # keeps the aggregate hash-based (a struct-min would flip the
        # whole agg to SortAggregate, the ohlc_bars lesson)
        F.min("_vm").alias("_v0"),
    )
    return agg.select(
        *key_cols, "n_samples", "span_us", "weighted_sum",
        F.when(
            F.col("span_us") > 0,
            # sign-safe exact division (negative values make the
            # weighted sum negative; truncating div and flooring //
            # agree only on non-negative operands — the cusum rule)
            F.expr(
                "CAST(CASE WHEN weighted_sum >= 0 "
                "THEN weighted_sum div span_us "
                "ELSE -((-weighted_sum) div span_us) END AS BIGINT)"
            ),
        ).otherwise(F.col("_v0")).cast("long").alias("twa_micro"),
    )


def resample_interpolate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    step_us: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Resample an irregular series onto a REGULAR epoch-aligned grid
    by linear interpolation — the step every join-two-series /
    train-at-fixed-rate consumer needs (`time_weighted_avg` reduces a
    window to one number; this keeps the series, uniform).

    Grid: multiples of `step_us` inside [first, last] sample per key
    (no extrapolation — points outside the observed span would be
    invention, not interpolation).  Value at grid instant t inside
    segment (t₀,v₀)→(t₁,v₁):
    ``v = v₀ + (v₁−v₀)·(t−t₀) div (t₁−t₀)`` — exact integer micros,
    DECIMAL(38,0) product, SIGN-SAFE division (decreasing segments
    make the product negative; truncate-vs-floor engines diverge
    there — the cusum rule).  A grid point landing exactly on a
    sample reproduces it; NULL samples are excluded first (the
    time_weighted_avg gap rule); ts ties break on `order_cols`.

    Shape: ONE key-partitioned window (lead pairs each sample with
    its successor) + a per-segment ``explode(sequence(...))`` of the
    grid points the segment covers — no join, no range-join
    explosion; cost is OUTPUT-sized (grid density).  Each segment
    owns the half-open grid range (t₀, t₁] — ranges partition the
    timeline, so every grid point is emitted exactly once (the
    interval-join exactly-once discipline); the key's FIRST sample
    additionally emits its own instant when it lies on the grid."""
    if step_us < 1:
        raise ValueError("step_us must be >= 1")
    v = F.col(value_col)
    rows = df.filter(v.isNotNull())
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    seg = rows.select(
        *key_cols,
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t0"),
        F.expr(f"CAST(round({value_col} * 1000000, 0) AS BIGINT)").alias("_v0"),
        F.lead(F.unix_micros(F.col(ts_col).cast("timestamp"))).over(w).alias("_t1"),
        F.lead(
            F.expr(f"CAST(round({value_col} * 1000000, 0) AS BIGINT)")
        ).over(w).alias("_v1"),
        F.row_number().over(w).alias("_rn"),
    )
    s = int(step_us)
    # interior segments own grid points in (t0, t1]; the first sample
    # also owns its own instant if on-grid (closing the left boundary
    # exactly once per key)
    lo_int = F.expr(f"(CAST(_t0 AS BIGINT) div {s} + 1) * {s}")
    lo = F.when(
        (F.col("_rn") == 1) & (F.col("_t0") % s == 0), F.col("_t0")
    ).otherwise(lo_int)
    hi = F.expr(f"(CAST(_t1 AS BIGINT) div {s}) * {s}")
    pts = (
        seg.filter(F.col("_t1").isNotNull())
        .withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .filter(F.col("_lo") <= F.col("_hi"))
        .select(
            *key_cols, "_t0", "_v0", "_t1", "_v1",
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.lit(s))
            ).alias("grid_us"),
        )
    )
    num = F.expr(
        "CAST(_v1 - _v0 AS DECIMAL(38,0)) * (grid_us - _t0)"
    )
    den = F.col("_t1") - F.col("_t0")
    lerp = F.expr(
        "CAST(_v0 + CASE WHEN _num >= 0 THEN _num div _den "
        "ELSE -((-_num) div _den) END AS BIGINT)"
    )
    out = (
        pts.withColumn("_num", num)
        .withColumn("_den", den)
        .select(
            *key_cols,
            F.col("grid_us"),
            F.timestamp_micros(F.col("grid_us")).alias("grid_ts"),
            lerp.alias("v_micro"),
        )
    )
    # the LAST sample's instant, when on-grid, is owned by no interior
    # segment's (t0, t1] range only if it IS t1 of the final segment —
    # which the explode above already covers; single-sample keys (no
    # segment) emit their instant when on-grid
    singles = (
        seg.filter(F.col("_t1").isNull() & (F.col("_rn") == 1))
        .filter(F.col("_t0") % s == 0)
        .select(
            *key_cols,
            F.col("_t0").alias("grid_us"),
            F.timestamp_micros(F.col("_t0")).alias("grid_ts"),
            F.col("_v0").alias("v_micro"),
        )
    )
    return out.unionByName(singles)


def sequence_ngrams(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_col: str,
    n: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Order-n sequential pattern counts over per-key event
    sequences — `transition_counts`' higher-order sibling (that
    operator is the n = 2 case): which 3-step journeys are common,
    what precedes an 'error', the path-mining primitive.

    Each key's events, ordered by `order_cols` (include a unique
    tiebreaker or the sequence is nondeterministic), contribute one
    n-gram per position via n−1 window lags; n-grams never cross
    keys.  Counts are exact; `p_ppm` is the exact integer conditional
    probability of the LAST step given the n−1 preceding ones
    (cnt·1e6 div Σcnt(prefix)) — the order-n Markov estimate.

    Plan shape: ONE keyed sort shared by all n−1 lags, then one
    partial-aggregated groupBy on the gram — the shuffle carries
    distinct grams, not events.

    Output: (step_1 … step_n, cnt, p_ppm), most frequent first not
    guaranteed — order downstream.
    """
    if n < 2:
        raise ValueError("n must be >= 2 (n=2 is transition_counts)")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c) for c in order_cols]
    )
    lagged = df.select(
        *key_cols,
        *[
            F.lag(F.col(state_col), n - 1 - i).over(w).alias(f"step_{i+1}")
            for i in range(n - 1)
        ],
        F.col(state_col).alias(f"step_{n}"),
    ).filter(F.col("step_1").isNotNull())
    steps = [f"step_{i+1}" for i in range(n)]
    counts = lagged.groupBy(*steps).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_prefix = Window.partitionBy(*steps[:-1])
    # prefix totals BEFORE the min_count prune: p_ppm must condition
    # on the TRUE prefix mass, not on the surviving siblings (pruned
    # rare continuations still happened)
    return (
        counts.withColumn("_tot", F.sum("cnt").over(w_prefix))
        .filter(F.col("cnt") >= min_count)
        .withColumn(
            "p_ppm",
            F.expr("CAST(cnt * 1000000 div _tot AS BIGINT)"),
        )
        .drop("_tot")
    )


def rolling_features(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    lags: tuple = (1, 2, 3),
    roll_window: int = 7,
    micro: int = 1_000_000,
) -> DataFrame:
    """Supervised-learning featurizer over per-key ordered series:
    lag_k columns plus trailing-window rolling min / max / exact-mean
    — the standard autoregressive feature block (forecasting, anomaly
    models) built the engine's way: ONE keyed sort shared by every
    lag and every rolling frame (adding a lag costs nothing), the
    rolling mean computed as an exact integer-micro sum with
    truncating division (no float accumulation across the frame).

    The trailing frame EXCLUDES the current row (features must not
    leak the label's timestep); rows whose full history is missing
    keep NULL lags (the model's mask, not an imputation policy).

    Output: input columns + lag_<k> (original type) per requested
    lag + (roll_n, roll_min, roll_max, roll_mean_micro) over the
    previous `roll_window` rows.
    """
    if not lags or min(lags) < 1:
        raise ValueError("lags must be >= 1")
    if roll_window < 1:
        raise ValueError("roll_window must be >= 1")
    if micro < 1:
        raise ValueError("micro must be >= 1")
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    wr = w.rowsBetween(-roll_window, -1)
    v = F.col(value_col)
    qx = F.expr(f"CAST(round({value_col} * {micro}, 0) AS BIGINT)")
    out = df
    for k in sorted(set(int(x) for x in lags)):
        out = out.withColumn(f"lag_{k}", F.lag(v, k).over(w))
    out = out.withColumn("_q", qx)
    return (
        out.withColumn("roll_n", F.count("_q").over(wr))
        .withColumn("roll_min", F.min(v).over(wr))
        .withColumn("roll_max", F.max(v).over(wr))
        .withColumn(
            "_qsum", F.sum(F.col("_q").cast("decimal(38,0)")).over(wr)
        )
        .withColumn(
            "roll_mean_micro",
            F.when(
                F.col("roll_n") > 0,
                F.expr("CAST(_qsum div roll_n AS BIGINT)"),
            ),
        )
        .drop("_q", "_qsum")
    )


def coverage_gaps(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    min_gap: str = "0 seconds",
) -> DataFrame:
    """Holes in per-key interval coverage — "which sensors went dark,
    when, for how long": given (start, end) observation intervals per
    key, emit one row per maximal uncovered span longer than
    `min_gap`.  The monitoring complement of `sessionize` (which
    groups presence; this reports ABSENCE).

    Overlapping/touching intervals never produce false gaps: a
    running maximum of interval ends (one keyed window) establishes
    coverage-so-far, and a gap exists only where the next interval
    starts strictly after it.  All comparisons are integer
    microseconds — no float time math.

    Plan shape: ONE keyed sort shared by the running-max and lead
    windows; output is gaps-sized.

    Output: (…key, gap_start, gap_end, gap_us).
    """
    gap_us = -1
    try:
        import re as _re

        m = _re.fullmatch(
            r"(\d+)\s*(second|minute|hour|day)s?",
            min_gap.strip().lower(),
        )
        if m:
            mult = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400}[m.group(2)]
            gap_us = int(m.group(1)) * mult * 1_000_000
    except Exception:
        pass
    if gap_us < 0:
        raise ValueError(
            f"min_gap must look like '5 minutes', got {min_gap!r}"
        )
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    rows = df.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
    ).select(*key_cols, s_us.alias("_s"), e_us.alias("_e"))
    w = Window.partitionBy(*key_cols).orderBy("_s", "_e")
    wcov = w.rowsBetween(Window.unboundedPreceding, 0)
    covered = rows.withColumn("_cov_end", F.max("_e").over(wcov)) \
        .withColumn("_next_s", F.lead("_s").over(w))
    gaps = covered.filter(
        F.col("_next_s").isNotNull()
        & (F.col("_next_s") - F.col("_cov_end") > gap_us)
    )
    return gaps.select(
        *key_cols,
        F.timestamp_micros(F.col("_cov_end")).alias("gap_start"),
        F.timestamp_micros(F.col("_next_s")).alias("gap_end"),
        (F.col("_next_s") - F.col("_cov_end")).alias("gap_us"),
    )


def funnel_paths(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    state_col: str,
    max_len: int = 5,
    min_count: int = 1,
) -> DataFrame:
    """Top user journeys — the Sankey/flow view: each key's FIRST
    `max_len` states in event order collapse to one path string
    ('view>click>purchase'), counted across keys with exact share
    ppm.  `funnel_report` answers "how many completed MY funnel";
    this answers "what funnels actually exist" — you run this first
    to decide what to measure.

    Truncation at `max_len` is part of the path identity (a
    5-step-truncated journey and a genuine 5-step journey count
    together — the standard flow-view semantics; raise max_len to
    split them).  Ordering ties broken by `order_cols` — include a
    unique tiebreaker.

    Plan shape: one groupBy(key) with an in-aggregate sorted
    collect (the array is per-key-events-sized, then sliced to
    max_len — bound event counts per key upstream or pre-slice), one
    groupBy(path) carrying DISTINCT PATHS, one 1-row total broadcast.

    Output: (path, depth, cnt, share_ppm) — share of keys, exact.
    """
    if max_len < 1:
        raise ValueError("max_len must be >= 1")
    ordered = F.sort_array(
        F.collect_list(F.struct(
            *[F.col(c) for c in order_cols], F.col(state_col).alias("_st")
        ))
    )
    per_key = df.groupBy(*key_cols).agg(
        F.slice(ordered, 1, max_len).alias("_steps")
    ).select(
        F.array_join(
            F.transform(F.col("_steps"), lambda s: s["_st"]), ">"
        ).alias("path"),
        F.size("_steps").alias("depth"),
    )
    counts = per_key.groupBy("path", "depth").agg(
        F.count(F.lit(1)).alias("cnt")
    ).filter(F.col("cnt") >= min_count)
    total = per_key.agg(
        F.count(F.lit(1)).alias("_tot")
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "path", "depth", "cnt",
        F.expr("CAST(cnt * 1000000 div _tot AS BIGINT)").alias("share_ppm"),
    )


def multi_touch_attribution(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    id_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: list[str],
    lookback_minutes: int,
    model: str = "linear",
) -> DataFrame:
    """Multi-touch conversion attribution: for every conversion event,
    the touch events of the same key inside the lookback window and
    each touch's EXACT integer credit share — the step after
    `funnel_report` (which asks whether journeys convert; this asks
    which touches get paid).  Reference analogue: the CDC pipeline's
    view→click→purchase event stream (`_a_ssj_rows`' attribution
    join) with credit assignment on top.

    Semantics: a touch qualifies iff its type is in `touch_types`,
    same key, and ``conv_ts − lookback ≤ touch_ts < conv_ts`` in
    integer microseconds (same-instant touches are excluded — strict
    event-time precedence; `id_col` breaks same-ts ordering among
    touches deterministically).  Credit models, all exact ppm integers
    summing to EXACTLY 1,000,000 per attributed conversion:

    - 'first' / 'last': the whole 1e6 on that position;
    - 'linear': ``1e6 div n`` each, division remainder to the LAST
      touch (documented, deterministic);
    - 'u' (position-based 40/20/40): n=1 → 1e6; n=2 → 500,000 each;
      n≥3 → 400,000 first, 400,000 last, middles share 200,000
      (``div (n−2)``, remainder to the last middle).

    Conversions with NO qualifying touch are kept (NULL touch
    columns, n_touches=0, credit_ppm=1e6 — the unattributed bucket),
    so ``Σ credit_ppm = 1e6 × conversions`` is a table invariant a
    DQ rule can pin.

    Shape: one key-partitioned equi-join (conversions × touches,
    time-bounded — per-key state is O(lookback), the stream–stream
    join's batch discipline) + one (key, conversion) window for
    position/count.  100 TB: pre-bucket both sides by key; the join
    and the window share that partitioning.  Skew = the mega-user;
    cap with an upstream filter if one key holds a visible share
    (`join_skew_report` is the pre-flight)."""
    if lookback_minutes <= 0:
        raise ValueError("lookback_minutes must be > 0")
    if model not in ("first", "last", "linear", "u"):
        raise ValueError(f"unknown attribution model {model!r}")
    if not touch_types:
        raise ValueError("touch_types must be non-empty")
    keys = [F.col(c) for c in key_cols]
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    conv = df.filter(F.col(type_col) == conversion_type).select(
        *key_cols,
        F.col(id_col).alias("conv_id"),
        F.col(ts_col).alias("conv_ts"),
        us(ts_col).alias("_c_us"),
    )
    touch = df.filter(F.col(type_col).isin(list(touch_types))).select(
        *[F.col(c).alias(f"_tk_{c}") for c in key_cols],
        F.col(id_col).alias("touch_id"),
        F.col(ts_col).alias("touch_ts"),
        F.col(type_col).alias("touch_type"),
        us(ts_col).alias("_t_us"),
    )
    lb = int(lookback_minutes) * 60_000_000
    # the time bound lives IN the join condition (not a post-filter):
    # left-outer then emits the NULL unattributed row exactly when no
    # QUALIFYING touch exists — a post-filter would instead delete
    # conversions whose key has only out-of-window touches
    cond = F.expr(" AND ".join(f"{c} = _tk_{c}" for c in key_cols)) & (
        (F.col("_t_us") < F.col("_c_us"))
        & (F.col("_t_us") >= F.col("_c_us") - F.lit(lb))
    )
    joined = conv.join(touch, cond, "left_outer")
    wp = Window.partitionBy(*keys, F.col("conv_id"))
    wo = wp.orderBy(F.col("_t_us").asc(), F.col("touch_id").asc())
    n = F.count("touch_id").over(wp)
    pos = F.when(
        F.col("touch_id").isNull(), F.lit(0)
    ).otherwise(F.row_number().over(wo))
    base = joined.withColumn("n_touches", n.cast("long")).withColumn(
        "position", pos.cast("long")
    )
    # a conversion may produce BOTH a NULL left-outer row and real
    # touch rows only when no touch matched (the filter keeps NULL
    # rows unconditionally, but a matched conversion has no NULL row
    # by left-outer semantics) — so n==0 ⇔ the single NULL row.
    nn, p = F.col("n_touches"), F.col("position")
    if model == "first":
        credit = F.when(p == 1, F.lit(1_000_000)).otherwise(F.lit(0))
    elif model == "last":
        credit = F.when(p == nn, F.lit(1_000_000)).otherwise(F.lit(0))
    elif model == "linear":
        b = F.expr("CAST(1000000 div n_touches AS BIGINT)")
        credit = b + F.when(
            p == nn, F.lit(1_000_000) - nn * b
        ).otherwise(F.lit(0))
    else:  # 'u'
        mid_b = F.expr("CAST(200000 div (n_touches - 2) AS BIGINT)")
        credit = (
            F.when(nn == 1, F.lit(1_000_000))
            .when(nn == 2, F.lit(500_000))
            .when((p == 1) | (p == nn), F.lit(400_000))
            .otherwise(
                mid_b
                + F.when(
                    p == nn - 1, F.lit(200_000) - (nn - 2) * mid_b
                ).otherwise(F.lit(0))
            )
        )
    credit = F.when(nn == 0, F.lit(1_000_000)).otherwise(credit)
    return base.select(
        *key_cols,
        "conv_id",
        "conv_ts",
        "touch_id",
        "touch_ts",
        "touch_type",
        "n_touches",
        "position",
        credit.cast("long").alias("credit_ppm"),
    )
