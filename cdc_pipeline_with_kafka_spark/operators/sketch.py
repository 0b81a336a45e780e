"""Sketch-shaped aggregates for massive key cardinality (SURVEY.md §4
scale extensions; reference analogue: the Redis counter tables the
trend analyzer reads, advanced_trend_analyzer.py — exact counters that
stop fitting once the key space is the open vocabulary of a 100 TB
corpus).

Three operators:

- ``heavy_hitters``: exact top-k over an unbounded key space WITHOUT a
  full-key shuffle — candidate/verify (TPUT/threshold-algorithm
  family).  Pass 1 scans once, keeps the top-m keys per partition
  (mapInPandas, no shuffle) plus each partition's m-th count; pass 2
  exact-counts ONLY the candidate keys (broadcast semi-join, so the
  shuffle carries candidate rows, not the vocabulary).  A key missing
  from every partition's top-m has global count ≤ Σ_p thresh_p, so
  when the k-th verified count clears that bound the result is
  PROVABLY the exact top-k; the bound is returned so callers can
  escalate (raise m, or fall back to a full groupBy) instead of
  silently trusting a heuristic.
- ``quantile_summary``: per-stratum distribution summary.  Exact
  ``percentile`` (full sort-per-group — fine up to millions of rows
  per group) or ``approx_percentile`` (GK sketch, mergeable,
  bounded-memory — the 100 TB path) behind one flag with identical
  output shape.
- ``cms_counts``: count-min sketch per group via the built-in
  ``count_min_sketch`` aggregate; returns the serialized sketch for a
  downstream store, plus a driver-side reader for point lookups.
  Overestimate-only error ≤ eps·N with prob ≥ confidence.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def _local_topm(key_col: str, m: int):
    """Per-partition counting pass: emit the partition's top-m keys by
    local count, plus one marker row (key NULL) carrying the m-th
    largest local count — the partition's contribution to the
    missing-key upper bound (0 when the partition had < m distinct
    keys, i.e. every key was emitted)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        counts: Counter = Counter()
        for pdf in batches:
            counts.update(pdf[key_col].dropna().value_counts().to_dict())
        top = counts.most_common(m)
        thresh = top[-1][1] if len(top) == m else 0
        keys = [k for k, _ in top] + [None]
        cnts = [c for _, c in top] + [thresh]
        marker = [False] * len(top) + [True]
        yield pd.DataFrame({key_col: keys, "local_cnt": cnts, "is_thresh": marker})

    return gen


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int,
    candidate_factor: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Exact top-k keys by count without shuffling the full key space.

    Returns ``(topk, bound)``:

    - ``topk``: (key_col, cnt) — the k most frequent keys, exact
      counts, deterministic tie-break (cnt desc, key asc);
    - ``bound``: single row (missing_upper_bound) — the largest global
      count any NON-candidate key could have.  The result is provably
      exact iff ``topk``'s k-th cnt ≥ that bound; callers at scale
      check it and re-run with a larger ``candidate_factor`` (or fall
      back to the full groupBy of ``windows.topk_global``) on the rare
      adversarial distribution where it fails.  On Zipfian text
      frequencies (the corpus case) m = k·factor clears it easily.

    Scale shape: pass 1 is one scan, zero shuffle, p·m candidate rows;
    pass 2 re-scans but shuffles only rows whose key is a candidate
    (broadcast semi-join + partial agg), so reducer input is ~k·factor
    keys regardless of vocabulary size.  Compare ``topk_global``: one
    scan but a full shuffle of every distinct key — better when the
    vocabulary is bounded, unusable at open-vocabulary 100 TB."""
    m = max(k * candidate_factor, k + 1)
    # nullable=True regardless of the input field: the per-partition
    # threshold marker row carries a NULL key
    schema = T.StructType(
        [
            T.StructField(key_col, df.schema[key_col].dataType, True),
            T.StructField("local_cnt", T.LongType()),
            T.StructField("is_thresh", T.BooleanType()),
        ]
    )
    local = df.select(key_col).mapInPandas(_local_topm(key_col, m), schema=schema)
    local = local.persist()
    candidates = local.filter(~F.col("is_thresh")).select(key_col).distinct()
    bound = local.filter(F.col("is_thresh")).agg(
        F.coalesce(F.sum("local_cnt"), F.lit(0)).alias("missing_upper_bound")
    )
    exact = (
        df.join(F.broadcast(candidates), key_col, "semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ORDER BY + LIMIT → TakeOrderedAndProject: the candidate table is
    # already bounded (≤ p·m rows), but the bounded-partials + driver
    # merge shape never materializes a single-task global sort either
    # way (the same rewrite train_nb/dsir_select got in r5)
    topk = exact.orderBy(F.desc("cnt"), F.asc(key_col)).limit(k)
    return topk, bound


def quantile_summary(
    df: DataFrame,
    num_col: str,
    probs: list[float],
    stratum_col: str | None = None,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-stratum quantiles, long form: (stratum?, prob, quantile).

    ``approx=False`` uses exact ``percentile`` (linear interpolation,
    matches DuckDB ``quantile_cont``) — it buffers each group's values,
    so reserve it for bounded groups.  ``approx=True`` uses the
    Greenwald-Khanna sketch (``approx_percentile``): mergeable partial
    aggregates, memory O(accuracy), rank error ≤ 1/accuracy — the only
    viable form at 100 TB.  Output shape is identical so callers can
    flip the flag per deployment."""
    probs_arr = F.array(*[F.lit(float(p)) for p in probs])
    agg = (
        F.approx_percentile(F.col(num_col).cast("double"), probs_arr, F.lit(accuracy))
        if approx
        else F.percentile(F.col(num_col).cast("double"), probs_arr)
    ).alias("qs")
    grouped = df.groupBy(stratum_col).agg(agg) if stratum_col else df.agg(agg)
    labeled = grouped.select(
        *([stratum_col] if stratum_col else []),
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in probs]).alias("prob"),
                F.col("qs").alias("quantile"),
            )
        ).alias("z"),
    )
    return labeled.select(
        *([stratum_col] if stratum_col else []),
        F.col("z.prob").alias("prob"),
        F.col("z.quantile").alias("quantile"),
    )


def cms_counts(
    df: DataFrame,
    key_col: str,
    eps: float = 0.0001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-min sketch of a key column: single row with the serialized
    sketch (binary).  Mergeable across partitions/batches by the JVM
    aggregate — the streaming-friendly way to keep per-key counters
    when the key space doesn't fit (reference keeps them in Redis,
    realtime_trend_analyzer.py; a CMS is the bounded-memory analogue).
    Width ⌈e/eps⌉ × depth ⌈ln(1/(1−confidence))⌉ ints; estimates only
    ever OVERcount, by ≤ eps·N with probability ≥ confidence."""
    return df.agg(
        F.count_min_sketch(key_col, F.lit(eps), F.lit(confidence), F.lit(seed)).alias(
            "sketch"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def cms_estimate(spark, sketch_bytes: bytes, keys: list) -> dict:
    """Driver-side point lookups against a serialized count-min sketch
    (the sketch is KB-sized — reading it on the driver is the point:
    an alerting service polls counters without touching the cluster)."""
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    return {k: cms.estimateCount(k) for k in keys}


def hll_sketches(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count sketches (Datasketches HLL
    via the built-in ``hll_sketch_agg``): (group_cols..., hll binary,
    n_distinct estimate).

    The MERGEABLE form of count-distinct for 100 TB rollups: unlike
    ``approx_count_distinct`` (which returns only a number), the binary
    sketch column can be persisted per shard/day/partition and later
    combined with ``hll_merge`` — distinct users per day roll up to
    per-month WITHOUT rescanning raw events, the exact pattern the
    reference's Redis counter tables cannot express.  Standard error
    ≈ 1.04/√2^lg_k (~1.6% at the default lg_k=12, 2 KB per sketch)."""
    groups = group_cols or []
    return df.groupBy(*groups).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("hll"),
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(key_col), F.lit(lg_k))).alias(
            "n_distinct"
        ),
    )


def hll_merge(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    hll_col: str = "hll",
) -> DataFrame:
    """Roll persisted HLL sketches up to a coarser grain: union the
    sketches per (coarser) group and re-estimate.  Input rows are
    KB-sized sketches, not raw data — a month-from-days rollup reads
    30 rows per key, never the 100 TB of events behind them."""
    groups = group_cols or []
    merged = sketches.groupBy(*groups).agg(
        F.hll_union_agg(F.col(hll_col)).alias("hll")
    )
    return merged.select(
        *groups, "hll", F.hll_sketch_estimate(F.col("hll")).alias("n_distinct")
    )


# ---------------------------------------------------------------- bloom filter


def _bloom_positions(key: Column, num_bits: int, k: int) -> Column:
    """Array of k bit positions for a key: independent md5-salted
    60-bit hashes mod num_bits — deterministic arithmetic, no JVM
    bloom internals, so the filter is portable across engines and
    reproducible across runs (required for an append-only corpus
    membership index)."""
    return F.array(*[
        (
            F.conv(F.substring(F.md5(F.concat(F.lit(f"b{i}:"), key)), 1, 15), 16, 10)
            .cast("long") % num_bits
        )
        for i in range(k)
    ])


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Build a bloom filter over a key column as a SPARSE word map:
    (word_idx, word) rows where word is a 64-bit lane of the bit
    array and only non-zero words materialize.

    Distributed shape: explode k positions per key (k rows, not the
    key payload), groupBy(word_idx) with a bit_or aggregate — partial
    aggregation compresses each map task's contribution to ≤
    num_bits/64 rows, so the shuffle is bounded by the FILTER size,
    not the corpus size.  Membership state per corpus key is k bits —
    vs 16 bytes/doc for the exact hash index the admission pipeline
    keeps — the memory-constrained tier of corpus membership.

    FP probability ≈ (1 - e^{-k·n/m})^k; size num_bits ≈ 10·n for
    ~1% at k=5.  Merging two filters (same num_bits/k) is
    ``bloom_merge`` — a bit_or of the word maps, the mergeability
    that makes per-shard build + union work at 100 TB.
    """
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    pos = (
        df.select(F.explode(_bloom_positions(F.col(key_col).cast("string"), num_bits, k)).alias("pos"))
    )
    return (
        pos.select(
            F.floor(F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("w"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("w").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR two sparse bloom word maps built with identical (num_bits, k)."""
    return (
        a.unionByName(b).groupBy("word_idx").agg(F.bit_or("word").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int,
    k: int = 5,
) -> DataFrame:
    """Probe membership: input rows + ``might_contain`` boolean.

    A key is (possibly) present iff ALL k of its bits are set; any
    missing word row or unset bit proves absence (no false negatives).
    The probe explodes k rows per key, broadcast-joins the sparse word
    map, and re-aggregates on the input id — the filter side is
    ≤ num_bits/64 rows by construction, always broadcastable.
    """
    probe = df.select(
        F.col(key_col),
        F.posexplode_outer(_bloom_positions(F.col(key_col).cast("string"), num_bits, k)).alias("_i", "pos"),
    ).select(
        key_col,
        F.floor(F.col("pos") / 64).cast("long").alias("word_idx"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
    )
    hit = probe.join(F.broadcast(bloom), "word_idx", "left").select(
        key_col,
        (F.col("word").isNotNull() & (F.col("word").bitwiseAND(F.col("mask")) != 0)).alias("_bit"),
    )
    verdict = hit.groupBy(key_col).agg(
        F.every("_bit").alias("might_contain")
    )
    return df.join(verdict, key_col, "left")


def bloom_to_bytes(bloom: DataFrame, num_bits: int) -> bytes:
    """Materialize the sparse word map into a dense little-endian byte
    array on the driver (num_bits/8 bytes — a 1e9-key / 1% filter is
    ~1.2 GB; cap num_bits accordingly).  Ship it into a mapInPandas
    closure for shuffle-free probing of a massive stream — the
    vectorized twin of bloom_probe when the probe side is too large to
    re-aggregate per key."""
    import numpy as np

    words = np.zeros(num_bits // 64, dtype=np.uint64)
    for r in bloom.collect():
        words[r["word_idx"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    return words.tobytes()


def bloom_probe_bytes(
    df: DataFrame,
    key_col: str,
    bloom_bytes: bytes,
    num_bits: int,
    k: int = 5,
) -> DataFrame:
    """Vectorized twin of `bloom_probe`: the dense word array from
    `bloom_to_bytes` ships in the mapInPandas closure, so probing is a
    pure map stage — no join, no re-aggregation, the right shape when
    the probe side is a massive stream and the filter fits in executor
    memory (num_bits/8 bytes per task).

    Output: input rows + might_contain.  The k bit positions are
    computed JVM-SIDE with the exact `_bloom_positions` codegen
    expression the build uses (one `cast('string')` normalization for
    build and both probes — no Python str() divergence for booleans
    etc.), and the pandas stage is a pure numpy gather over the word
    array: no per-row Python, no hashing outside the JVM.  NULL keys
    NULL-propagate (might_contain = NULL), matching `bloom_probe`'s
    left-join behavior."""
    import numpy as np

    if len(bloom_bytes) != num_bits // 8:
        raise ValueError(
            f"bloom_bytes has {len(bloom_bytes)} bytes, expected {num_bits // 8}"
        )
    words = np.frombuffer(bloom_bytes, dtype=np.uint64)
    out_fields = df.schema.fields + [T.StructField("might_contain", T.BooleanType())]
    out_schema = T.StructType(out_fields)
    # -1 sentinel rows (NULL key → codegen positions would be NULL) keep
    # the Arrow column a dense non-null k-wide int64 matrix
    key = F.col(key_col)
    pos = F.when(
        key.isNotNull(), _bloom_positions(key.cast("string"), num_bits, k)
    ).otherwise(F.array_repeat(F.lit(-1).cast("long"), k))
    with_pos = df.withColumn("_bloom_pos", pos)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.drop(columns=["_bloom_pos"])
            if len(pdf) == 0:
                out["might_contain"] = pd.Series([], dtype=bool)
                yield out
                continue
            mat = np.vstack(pdf["_bloom_pos"].to_numpy()).astype(np.int64, copy=False)
            valid = mat[:, 0] >= 0
            idx = np.where(valid[:, None], mat, 0)
            bits = (words[idx >> 6] >> (idx & 63).astype(np.uint64)) & np.uint64(1)
            mc = pd.array(bits.all(axis=1), dtype="boolean")
            mc[~valid] = pd.NA
            out["might_contain"] = mc
            yield out

    return with_pos.mapInPandas(run, schema=out_schema)


def table_profile(
    df: DataFrame,
    cols: list[str] | None = None,
    approx_distinct: bool = False,
) -> DataFrame:
    """One-call data-quality profile, long form: one row per column —
    (column, n_rows, n_nulls, n_distinct, min_str, max_str).  The
    first thing a pipeline runs on a new table delivery: null bursts,
    cardinality collapses, and domain drift all show up here before
    any downstream job pays for them.

    TWO column-pruned scans, one aggregate row (r12 — was one scan):
    every column's stats are parallel aggregate expressions, split
    into a regular agg (count/nulls/min/max) crossJoined with the
    distinct-count agg, unpivoted to long form with stack (never a
    per-column scan).  The split exists because min/max over string
    columns carry string AGG BUFFERS (not hash-aggregable), which
    used to drag the exact-distinct Expand phase into a SortAggregate
    sorting ×(cols+1) expanded rows by every profiled column — full
    document text included; one extra pruned scan is far cheaper than
    that sort at any scale.  min/max stringify so one
    schema profiles heterogeneous column types; arrays/structs
    profile nulls + distinct only (their ordering is not
    meaningful); map columns profile nulls only (Spark rejects
    DISTINCT aggregates — exact or HLL — on map types, so n_distinct
    is NULL for them rather than an AnalysisException every batch).
    ``approx_distinct=True`` swaps count_distinct for HLL
    approx_count_distinct — the 100 TB form (mergeable partials, no
    exact-distinct Expand: N exact count_distincts in ONE agg make
    Catalyst plan an Expand that multiplies scan output ×(N+1) before
    the shuffle — measured 10× slower at 6M rows × 11 columns, see
    PLANS.md 'table_profile Expand cost'); exact stays the
    oracle-checkable default, with a warning past 8 columns so a
    100-column delivery doesn't silently profile on the Expand path."""
    cols = list(cols or df.columns)
    if not cols:
        raise ValueError("need at least one column")
    if not approx_distinct and len(cols) > 8:
        import warnings

        warnings.warn(
            f"table_profile: exact distincts over {len(cols)} columns "
            "plan an Expand that multiplies scan output x(cols+1) "
            "before the shuffle (measured 10x at 11 cols x 6M rows); "
            "pass approx_distinct=True for wide tables",
            stacklevel=2,
        )
    dtypes = dict(df.dtypes)
    # r12 plan-shape split: the exact-distinct rewrite (Expand ×(cols+1),
    # grouped by every profiled column + gid) and the min/max/null
    # aggregates used to ride ONE agg — but min/max over string columns
    # carry string AGG BUFFERS, which are not hash-aggregable, so the
    # whole expanded phase fell to SortAggregate with a Sort of the
    # ×(cols+1) expanded rows keyed by every column INCLUDING full
    # document text.  Split instead: regular aggs (count/nulls/min/max,
    # no Expand, a keyless two-phase fold) crossJoined with the
    # distinct-count agg (Expand + pure count buffers → HashAggregate
    # end to end, zero Sorts).  Values identical — the exprs are
    # unchanged, only which agg carries them.  Measured at sf0.1 over
    # documents (5 cols incl. text): 0.27 s → 0.19 s, 2 Sorts → 0.
    reg = [F.count(F.lit(1)).alias("_rows")]
    dis = []
    for c in cols:
        col = F.col(c)
        # coalesce: sum over an EMPTY table is NULL, and an empty
        # delivery must profile as zeros, not nulls
        reg.append(
            F.coalesce(
                F.sum(F.when(col.isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"_n_{c}")
        )
        # maps are non-orderable AND non-hashable to Spark's distinct
        # machinery (exact and xxhash-based HLL both raise) — profile
        # nulls only, NULL n_distinct, mirroring min/max's complex rule
        if dtypes[c].startswith("map"):
            dis.append(F.lit(None).cast("long").alias(f"_d_{c}"))
        else:
            dis.append(
                (
                    F.approx_count_distinct(col)
                    if approx_distinct
                    else F.count_distinct(col)
                ).alias(f"_d_{c}")
            )
        simple = not dtypes[c].startswith(("array", "struct", "map", "binary"))
        reg.append(
            (F.min(col).cast("string") if simple else F.lit(None).cast("string")).alias(f"_lo_{c}")
        )
        reg.append(
            (F.max(col).cast("string") if simple else F.lit(None).cast("string")).alias(f"_hi_{c}")
        )
    one = df.agg(*reg).crossJoin(df.agg(*dis))
    stacked = ", ".join(
        f"'{c}', _n_{c}, _d_{c}, _lo_{c}, _hi_{c}" for c in cols
    )
    return one.selectExpr(
        "_rows AS n_rows",
        f"stack({len(cols)}, {stacked}) AS (column, n_nulls, n_distinct, min_str, max_str)",
    ).select(
        "column",
        F.col("n_rows").cast("long"),
        F.col("n_nulls").cast("long"),
        F.col("n_distinct").cast("long"),
        "min_str",
        "max_str",
    )


def profile_diff(
    old: DataFrame,
    new: DataFrame,
    null_shift_ppm: int = 10_000,
    distinct_ratio_milli: int = 500,
) -> DataFrame:
    """Drift report between two `table_profile` outputs — the consumer
    of the streaming profile sink: a new delivery's profile against
    yesterday's answers "did anything drift?" per column before any
    downstream job pays for it.

    Per column (FULL OUTER on the column name):
    - status 'added' / 'removed' / 'kept' (schema drift);
    - exact null-rate ppm both sides (``n_nulls·1e6 div n_rows``, 0
      on an empty side);
    - `flags`: 'null_shift' when |ppm_new − ppm_old| >
      `null_shift_ppm` (default 1 percentage point), and
      'distinct_collapse' / 'distinct_surge' when the cardinality
      ratio crosses `distinct_ratio_milli` (default 500 = 2× either
      way) — the enum-suddenly-constant and id-suddenly-exploding
      failure classes.  Map-typed columns (NULL n_distinct by
      table_profile's contract) skip the distinct flags instead of
      raising;
    - `flagged`: any flag or any status change.

    All arithmetic is exact integers on a columns-sized frame — the
    inputs are one row per column, so this costs one tiny join no
    matter how big the profiled tables were."""
    o = old.select(
        "column",
        F.col("n_rows").alias("rows_old"),
        F.col("n_nulls").alias("nulls_old"),
        F.col("n_distinct").alias("distinct_old"),
    )
    n = new.select(
        "column",
        F.col("n_rows").alias("rows_new"),
        F.col("n_nulls").alias("nulls_new"),
        F.col("n_distinct").alias("distinct_new"),
    )
    j = o.join(n, "column", "full_outer")
    ppm_old = F.when(
        F.col("rows_old") > 0,
        F.expr("(nulls_old * 1000000) div rows_old"),
    ).when(F.col("rows_old").isNotNull(), F.lit(0))
    ppm_new = F.when(
        F.col("rows_new") > 0,
        F.expr("(nulls_new * 1000000) div rows_new"),
    ).when(F.col("rows_new").isNotNull(), F.lit(0))
    status = (
        F.when(F.col("rows_old").isNull(), F.lit("added"))
        .when(F.col("rows_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    d = (
        j.withColumn("null_ppm_old", ppm_old.cast("long"))
        .withColumn("null_ppm_new", ppm_new.cast("long"))
        .withColumn("status", status)
    )
    kept = F.col("status") == "kept"
    have_d = F.col("distinct_old").isNotNull() & F.col(
        "distinct_new"
    ).isNotNull()
    flags = F.concat_ws(
        ",",
        F.when(
            kept
            & (
                F.abs(F.col("null_ppm_new") - F.col("null_ppm_old"))
                > F.lit(int(null_shift_ppm))
            ),
            F.lit("null_shift"),
        ),
        F.when(
            kept & have_d & (F.col("distinct_old") > 0)
            & (
                F.col("distinct_new") * 1000
                < F.lit(int(distinct_ratio_milli)) * F.col("distinct_old")
            ),
            F.lit("distinct_collapse"),
        ),
        F.when(
            kept & have_d & (F.col("distinct_new") > 0)
            & (
                F.col("distinct_old") * 1000
                < F.lit(int(distinct_ratio_milli)) * F.col("distinct_new")
            ),
            F.lit("distinct_surge"),
        ),
    )
    return d.withColumn("flags", flags).select(
        "column",
        "status",
        "null_ppm_old",
        "null_ppm_new",
        "distinct_old",
        "distinct_new",
        "flags",
        (~kept | (F.col("flags") != "")).alias("flagged"),
    )


EXACT_HIST_WARN_BUCKETS = 32


def equi_depth_histogram(
    df: DataFrame,
    col: str,
    n_buckets: int = 8,
    approx: bool = False,
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of a numeric column —
    the distribution view `table_profile`'s min/max can't give:
    skew, heavy hitters, and percentile mass all show up as uneven
    bucket WIDTHS when the bucket DEPTHS are pinned equal.  One row
    per non-empty bucket: (bucket 1..n, lo, hi, n_rows).

    Exact form (default): boundary k is the max of the lowest
    ⌈k·n/m⌉ values — the engine's exact rank-quantile pattern (no
    interpolation; boundaries are actual data values, reproducible on
    any engine), m−1 bounded TakeOrdered jobs + one count.  Boundary
    values and the bucket comparison stay in the column's NATIVE type
    (a double round-trip would lose precision on longs above 2^53 and
    let ties straddle a boundary); only the lo/hi OUTPUT columns cast
    to double.  Rows bucket to the FIRST boundary ≥ value, so ties
    never straddle a boundary (heavily tied data gives uneven depths
    — the honest answer; an interpolating histogram would hide the
    tie mass).  NULLs are excluded (profile them with table_profile).
    The exact path costs m−1 extra column scans — past
    EXACT_HIST_WARN_BUCKETS (32) it warns and points at approx=True
    (the table_profile guardrail pattern).

    ``approx=True``: boundaries from one GK approx_percentile
    aggregate — the 100 TB form (one pass, mergeable sketch) with
    rank error ≤ the GK accuracy instead of exact (GK works on
    doubles, so this path keeps the historical double-typed
    boundaries)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not approx and n_buckets > EXACT_HIST_WARN_BUCKETS:
        import warnings

        warnings.warn(
            f"equi_depth_histogram: exact boundaries for {n_buckets} "
            f"buckets cost {n_buckets - 1} extra TakeOrdered column "
            "scans plus a count; pass approx=True (one mergeable GK "
            "aggregate, same output shape) for wide histograms at "
            "scale",
            stacklevel=2,
        )
    c = F.col(col)
    vals = df.filter(c.isNotNull()).select(c.alias("_v"))
    n = vals.count()
    if n == 0:
        return vals.sparkSession.createDataFrame(
            [], "bucket int, lo double, hi double, n_rows long"
        )
    if approx:
        qs = [k / n_buckets for k in range(1, n_buckets)]
        row = vals.agg(
            F.approx_percentile(
                F.col("_v").cast("double"),
                F.array(*[F.lit(q) for q in qs]) if qs else F.array(F.lit(0.5)),
                F.lit(10_000),
            ).alias("c")
        ).first()
        cuts = [float(x) for x in (row["c"] if qs else [])]
    else:
        # boundaries stay in the column's native type — float(cut)
        # would corrupt longs past 2^53 and break the no-straddle
        # contract on tied values at a boundary
        cuts = []
        for k in range(1, n_buckets):
            rank = -(-k * n // n_buckets)  # ceil(k*n/m)
            cut = (
                vals.orderBy(F.col("_v").asc())
                .limit(rank)
                .agg(F.max("_v").alias("c"))
                .first()["c"]
            )
            cuts.append(cut)
    bucket = F.lit(n_buckets)
    cmp_v = F.col("_v").cast("double") if approx else F.col("_v")
    for k in range(len(cuts), 0, -1):
        bucket = F.when(
            cmp_v <= F.lit(cuts[k - 1]), F.lit(k)
        ).otherwise(bucket)
    return (
        vals.select(bucket.cast("int").alias("bucket"), "_v")
        .groupBy("bucket")
        .agg(
            F.min(F.col("_v").cast("double")).alias("lo"),
            F.max(F.col("_v").cast("double")).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def bloom_pruned_join(
    big: DataFrame,
    small: DataFrame,
    key_col: str,
    how: str = "inner",
    num_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Selective equi-join with a bloom pre-filter: when most big-side
    rows have NO match (retrieval decontamination, link resolution,
    dimension membership at low hit rate), the dominant cost of
    ``big ⋈ small`` is shuffling the misses.  Build a bloom filter of
    the small side's keys (`bloom_build` — the shuffle is bounded by
    the FILTER size), densify it once on the driver (num_bits/8
    bytes), and probe the big side in a PURE MAP STAGE
    (`bloom_probe_bytes`) so only possible-match rows (+ the ≈1% FP
    tail) reach the join's exchange.

    RESULT-IDENTICAL to the plain join (asserted in tests): blooms
    have no false negatives, and false positives are re-checked by
    the exact join.  `how` ∈ {inner, left_semi, semi} only — outer
    flavors need the pruned rows back.  NULL big-side keys prune
    (NULL never equi-joins anyway).

    This is the explicit form of what AQE's runtime-bloom rewrite
    (spark.sql.optimizer.runtime.bloomFilter.enabled) does for some
    shapes — explicit so it applies across stages AQE can't see
    (e.g. a filter persisted once and reused by many later jobs via
    bloom_to_bytes/bloom_merge)."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError(f"how must be inner|left_semi|semi, got {how!r}")
    bloom = bloom_build(small.select(key_col), key_col, num_bits, k)
    blob = bloom_to_bytes(bloom, num_bits)
    pruned = (
        bloom_probe_bytes(big, key_col, blob, num_bits, k)
        .filter(F.col("might_contain"))
        .drop("might_contain")
    )
    return pruned.join(small, key_col, how)


def percentile_rank(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "pct_ppm",
) -> DataFrame:
    """Exact percentile rank of every row within its group, as integer
    ppm: ``(rank(v) − 1) · 1e6 div (n − 1)`` (0 for the minimum, 1e6
    for the maximum, n = 1 groups get 0).  RANK, not row_number —
    ties share a percentile, so the output is a pure function of the
    VALUE, never of partition order.

    The cross-source score calibration primitive: quality scores from
    different classifiers/sources live on incomparable scales; their
    within-source percentile ranks are directly mixable (rank
    normalization — the nonparametric transform quantile-matching
    reduces to when the reference is uniform).  NULL values pass
    through with NULL rank.

    Shape: one group-partitioned window (rank + count) — a single
    shuffle on the group key; with group_cols=None the window is
    global and the sort is the price (use groups at 100 TB)."""
    parts = (
        [F.col(c) for c in group_cols] if group_cols else [F.lit(1)]
    )
    v = F.col(value_col)
    # nulls LAST so null rows never shift the non-null ranks (asc
    # default is nulls-first, which would off-by-#nulls every rank)
    w = Window.partitionBy(*parts).orderBy(v.asc_nulls_last())
    wc = Window.partitionBy(*parts)
    return (
        df.withColumn("_rk", F.when(v.isNotNull(), F.rank().over(w)))
        .withColumn("_n", F.count(v).over(wc))
        .withColumn(
            out_col,
            F.when(
                v.isNotNull() & (F.col("_n") > 1),
                F.expr("(CAST(_rk - 1 AS BIGINT) * 1000000) div (_n - 1)"),
            ).otherwise(
                F.when(v.isNotNull(), F.lit(0)).cast("long")
            ),
        )
        .drop("_rk", "_n")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k_milli: int = 3500,
) -> DataFrame:
    """Robust per-group outlier detection by median absolute
    deviation — the heavy-tail-safe sibling of the z-score rule
    (operators/trends.anomaly_zscore): mean/stddev move with the
    outliers they are supposed to catch, the median and MAD do not
    (50% breakdown point; Hampel's rule).

    Exactness contract: `med` is the LOWER MEDIAN — the
    ⌈n/2⌉-th smallest value, an ACTUAL data value via the engine's
    exact rank-quantile pattern, never an interpolation (engines
    disagree on interpolated medians; they cannot disagree on the
    value at a rank).  `mad` is the lower median of |x − med|.  A row
    is an outlier iff ``|x − med| · 1000 > k_milli · mad`` — exact
    arithmetic on both engines (k_milli = 3500 ≈ the classic 3.5·MAD
    fence; the 1.4826 normal-consistency constant is deliberately NOT
    baked in — fold it into k_milli if you want σ units).  Groups
    where > half the values are identical have mad = 0 and flag EVERY
    deviating row — the standard MAD caveat, wanted for
    constant-valued sensors, surprising otherwise (documented).

    Output: group_cols + (value, med, mad) for flagged rows only.

    Shape: two group-partitioned window sorts (rank the values, rank
    the deviations) + two group-keyed joins of groups-sized median
    tables back to the rows.  All shuffles are on the group key; the
    median tables are one row per group — broadcast-sized whenever
    the group count is.  No driver traffic, no interpolation, no
    approx_percentile engine-specific seams."""
    if k_milli < 0:
        raise ValueError("k_milli must be >= 0")
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    w = Window.partitionBy(*g).orderBy(v.asc())
    ranked = (
        df.select(*group_cols, value_col)
        .filter(v.isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(*g))
        )
    )
    med = ranked.filter(
        F.col("_rn") == F.expr("(_n + 1) div 2")
    ).select(*group_cols, v.alias("med"))
    adev = (
        df.select(*group_cols, value_col)
        .filter(v.isNotNull())
        .join(med, group_cols)
        .withColumn("_d", F.abs(v - F.col("med")))
    )
    wd = Window.partitionBy(*g).orderBy(F.col("_d").asc())
    dranked = adev.withColumn("_rn", F.row_number().over(wd)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*g))
    )
    mad = dranked.filter(
        F.col("_rn") == F.expr("(_n + 1) div 2")
    ).select(*group_cols, F.col("_d").alias("mad"))
    return (
        adev.join(mad, group_cols)
        .filter(F.col("_d") * F.lit(1000) > F.lit(int(k_milli)) * F.col("mad"))
        .select(*group_cols, value_col, "med", "mad")
    )


def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    qs_ppm: tuple[int, ...] = (500_000, 950_000),
) -> DataFrame:
    """Exact rank quantiles per group — the P50/P95/P99-per-key table
    (latency per endpoint, doc length per source).  For each q the
    reported value is the element at rank ⌈q·n⌉: an ACTUAL data value
    by the engine's exact rank-quantile pattern, never an
    interpolation (`quantile_summary` is the one-pass GK approximation
    of the same table; this is its exact, oracle-checkable form).

    Output: group_cols + (q_ppm, quantile_value), one row per
    (group, q); NULL values are excluded from ranks.  qs must lie in
    (0, 1e6].  Bound: q·n stays in long arithmetic up to n ~ 9e12
    rows per group.

    Shape: ONE group-partitioned rank window (all quantiles read the
    same sort — adding a q costs nothing) + a literal-array explode
    matched on the rank; a single shuffle on the group key."""
    if not qs_ppm:
        raise ValueError("need at least one quantile")
    for q in qs_ppm:
        if not 0 < q <= 1_000_000:
            raise ValueError(f"q_ppm must be in (0, 1e6], got {q}")
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col)
    ranked = (
        df.select(*group_cols, value_col)
        .filter(v.isNotNull())
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(*g).orderBy(v.asc())),
        )
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*g)))
    )
    cuts = F.array(
        *[
            F.struct(
                F.lit(int(q)).cast("long").alias("q_ppm"),
                F.expr(
                    f"CAST((CAST({int(q)} AS BIGINT) * _n + 999999)"
                    " div 1000000 AS BIGINT)"
                ).alias("rk"),
            )
            for q in qs_ppm
        ]
    )
    return (
        ranked.withColumn("_c", F.explode(cuts))
        .filter(F.col("_rn") == F.col("_c.rk"))
        .select(*group_cols, F.col("_c.q_ppm").alias("q_ppm"),
                v.alias("quantile_value"))
    )


def corr_matrix(
    df: DataFrame,
    cols: list[str],
    micro: int = 1_000_000,
) -> DataFrame:
    """Pairwise Pearson correlation over m numeric columns in ONE
    pass — the relationship view `table_profile`'s per-column stats
    can't give (which delivery metrics move together, which features
    are redundant before training).

    Exactness contract: values quantize to integer micros
    (``round(v·micro)`` — the ONE explicit seam), and every
    co-moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact DECIMAL(38,0)
    sum over those integers — order-free, shard-mergeable, identical
    on any engine.  The correlation itself is one fixed IEEE-double
    expression over the exact sums ((nΣxy−ΣxΣy) /
    (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))), so even the float step is
    reproducible bit-for-bit.  Pairwise-complete semantics: each
    pair's sums count only rows where BOTH columns are non-NULL;
    zero-variance pairs yield NULL (not ±inf/NaN).

    Plan shape: ONE partial-aggregated job — all m(m−1)/2 pairs' six
    conditional sums ride in a single agg (the stack-unpivot
    single-aggregate-row pattern of table_profile), then unpivot to
    one row per pair.  No shuffle keys at all: the aggregate is
    global, combined map-side.  Overflow bound: nΣxy must stay
    inside DECIMAL(38,0) — |v·micro| ≤ 1e12 holds to ~1e12 rows;
    past that drop `micro` (raw integer units) or center first.

    Output: (col_x, col_y, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy,
    corr) for the upper-triangle pairs."""
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    if micro < 1:
        raise ValueError("micro must be >= 1")
    dec = "decimal(38,0)"
    from ..util import spread

    # quantize ONCE in a projection (inlining round(col·micro) into
    # every aggregate expression re-evaluates it O(pairs) times per
    # row inside the agg loop), but quantize AFTER the spread (r12):
    # a single-row-group parquet file is read by ONE task however many
    # byte-range splits exist, so every expression below the exchange
    # runs sequentially — the scan task should only read the m raw
    # columns and write shuffle bytes; round/cast and the 36
    # decimal-sum updates then run at full parallelism.  spread is a
    # no-op at 100 TB (thousands of input files) and a cheap
    # 8-byte×m shuffle at bench scale.  Measured at sf0.1 / 4 cols:
    # 2.7 s inlined-3-way → 1.1 s hoisted+spread (r11) → 0.6 s with
    # the quantize hoisted past the (hash, sort-free) exchange (r12).
    quant = spread(df.select(*cols)).select(
        *[
            F.expr(f"CAST(round({c} * {micro}, 0) AS BIGINT)").alias(f"_q{i}")
            for i, c in enumerate(cols)
        ]
    )
    pairs = [(i, j) for i in range(len(cols)) for j in range(i + 1, len(cols))]
    aggs = []
    for p, (i, j) in enumerate(pairs):
        qx, qy = F.col(f"_q{i}"), F.col(f"_q{j}")
        both = qx.isNotNull() & qy.isNotNull()
        gx = F.when(both, qx.cast(dec))
        gy = F.when(both, qy.cast(dec))
        aggs += [
            F.count(F.when(both, F.lit(1))).cast(dec).alias(f"_n_{p}"),
            F.sum(gx).alias(f"_sx_{p}"),
            F.sum(gy).alias(f"_sy_{p}"),
            F.sum(gx * qy).alias(f"_sxy_{p}"),
            F.sum(gx * qx).alias(f"_sxx_{p}"),
            F.sum(gy * qy).alias(f"_syy_{p}"),
        ]
    one = quant.agg(*aggs)
    stack_args = ", ".join(
        f"'{cols[i]}', '{cols[j]}', _n_{p}, _sx_{p}, _sy_{p}, "
        f"_sxy_{p}, _sxx_{p}, _syy_{p}"
        for p, (i, j) in enumerate(pairs)
    )
    long_rows = one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS "
        "(col_x, col_y, n, sum_x, sum_y, sum_xy, sum_xx, sum_yy)"
    )
    num = F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y")
    vx = F.col("n") * F.col("sum_xx") - F.col("sum_x") * F.col("sum_x")
    vy = F.col("n") * F.col("sum_yy") - F.col("sum_y") * F.col("sum_y")
    corr = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )
    return long_rows.select(
        "col_x", "col_y",
        F.col("n").cast("long").alias("n"),
        "sum_x", "sum_y", "sum_xy", "sum_xx", "sum_yy",
        corr.alias("corr"),
    )


def hll_rollup(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket: str = "hour",
    group_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Time-bucketed HLL sketch table — the PRE-AGGREGATION layer for
    "distinct users over ANY date range" queries: one scan of the
    raw events yields one KB-sized mergeable sketch per
    (group, bucket); every later range query merges a handful of
    sketch rows (`hll_range_estimate`) and never touches the 100 TB
    of raw events again.  The Redis counter tables the reference
    keeps per hour (advanced_trend_analyzer.py) can only ADD counts
    — they double-count a user active in two hours; HLL unions
    dedupe across buckets by construction.

    Output: group_cols + (bucket_start, hll binary, n_distinct) —
    write it partitioned by date(bucket_start) and the range read
    partition-prunes.  Estimates carry the standard HLL error
    (≈1.6% at lg_k=12); below the sketch's sparse-mode threshold
    they are EXACT (the gate regime)."""
    groups = list(group_cols or [])
    return hll_sketches(
        df.withColumn(
            "bucket_start", F.date_trunc(bucket, F.col(ts_col))
        ),
        key_col,
        groups + ["bucket_start"],
        lg_k=lg_k,
    )


def hll_range_estimate(
    rollup: DataFrame,
    start,
    end,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distinct-count estimate over a time range from an `hll_rollup`
    table: filter buckets to ``[start, end)`` (half-open — bucket
    START times, so pass bucket-aligned bounds) and union the
    sketches per group.  Reads sketch rows (KBs), not events; the
    filter partition-prunes a date-partitioned rollup.  This is the
    query pattern that makes the sketch table worth storing: ANY
    ad-hoc range costs |buckets-in-range| rows per group."""
    ranged = rollup.filter(
        (F.col("bucket_start") >= F.lit(start))
        & (F.col("bucket_start") < F.lit(end))
    )
    return hll_merge(ranged, group_cols or [])


def validate_rules(
    df: DataFrame,
    rules: dict[str, str],
) -> DataFrame:
    """Data-quality CONTRACT check: evaluate named row-level rules
    (SQL boolean expressions — 'o_totalprice > 0',
    "o_orderstatus IN ('O','F','P')") in ONE scan and report, per
    rule: rows checked, violations, violation ppm, and pass/fail.
    The delivery gate a pipeline runs before promoting a drop —
    table_profile tells you what the data looks like, this tells you
    whether it honors the contract.

    Semantics: a rule VIOLATES on rows where the expression is FALSE
    or NULL (a NULL predicate means the contract couldn't be
    affirmed — the scd2 NULL-op lesson: silent nulls must not pass).
    `passed` is violations == 0.

    Shape: every rule compiles to one conditional count inside a
    SINGLE aggregate (the table_profile stack-unpivot pattern) — one
    scan regardless of rule count, map-side combined, no shuffle key.
    Row-level only by design: cross-row rules (uniqueness,
    referential integrity) are their own operators with their own
    shuffles (dedup_by_key / anti_join_new_keys); mixing them here
    would hide a join inside a "one scan" contract."""
    if not rules:
        raise ValueError("need at least one rule")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, expr) in enumerate(rules.items()):
        aggs.append(
            F.count(
                F.when(~F.coalesce(F.expr(expr), F.lit(False)), F.lit(1))
            ).alias(f"_v_{i}")
        )
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', _v_{i}" for i, name in enumerate(rules)
    )
    return one.selectExpr(
        "_n", f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)"
    ).select(
        F.col("rule"),
        F.col("_n").cast("long").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.when(
            F.col("_n") > 0,
            F.expr("CAST(n_violations * 1000000 div _n AS BIGINT)"),
        ).otherwise(F.lit(0)).cast("long").alias("violation_ppm"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo_ppm: int = 10_000,
    hi_ppm: int = 990_000,
) -> DataFrame:
    """Clamp `value_col` into its per-group [P(lo_ppm), P(hi_ppm)]
    exact rank-quantile band — the standard heavy-tail tamer before
    means/regressions (a handful of pathological delivery latencies
    or bot view-counts otherwise own every average).

    The cut values come from `group_quantiles` (value at rank ⌈q·n⌉ —
    ACTUAL data values, never interpolation), so the clamped output
    contains only values that exist in the data and the whole
    operator is engine-exact with no float seam.  NULL values pass
    through NULL and take no rank (the group_quantiles contract).

    Plan shape: one group-keyed rank window to find the cuts (the
    group_quantiles shuffle), then one BROADCAST join of the
    groups-sized cut table back onto the rows — row-grain data is
    never reshuffled.

    Output: the input columns + (value_w) — clamped value.
    """
    if not 0 < lo_ppm <= hi_ppm <= 1_000_000:
        raise ValueError("need 0 < lo_ppm <= hi_ppm <= 1e6")
    if not group_cols:
        raise ValueError(
            "group_cols must be non-empty (winsorize globally by "
            "adding a constant group column)"
        )
    cuts = group_quantiles(df, value_col, group_cols, (lo_ppm, hi_ppm))
    band = cuts.groupBy(*group_cols).agg(
        F.min(
            F.when(F.col("q_ppm") == lo_ppm, F.col("quantile_value"))
        ).alias("_lo"),
        F.max(
            F.when(F.col("q_ppm") == hi_ppm, F.col("quantile_value"))
        ).alias("_hi"),
    )
    v = F.col(value_col)
    out = df.join(F.broadcast(band), group_cols, "left")
    clamped = F.when(
        v.isNull() | F.col("_lo").isNull(), v
    ).otherwise(F.greatest(F.least(v, F.col("_hi")), F.col("_lo")))
    return out.withColumn("value_w", clamped).drop("_lo", "_hi")


# reference-size pivot for quantile_normalize's rank form: below this
# optimizer estimate the single-window rank is cheaper (no extra
# exchanges); above it the range-partitioned rank keeps the reference
# off a single task.  8 MiB keeps sf0.1 events on the small form while
# sf1+ (~20 MiB of events parquet) flips.
QN_RANGE_RANK_BYTES = 8 << 20


def _estimated_bytes(df: DataFrame) -> int:
    """Optimizer size estimate (driver-side, no job) — file-source
    frames report summed file sizes; unknown sources report a huge
    sentinel, which correctly picks the conservative scalable form."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 1 << 60


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    reference: DataFrame | None = None,
    n_cuts: int = 1000,
) -> DataFrame:
    """Map every value onto the REFERENCE distribution by rank —
    batch-effect removal: after this, every group's `value_col` has
    (up to grid resolution) the reference's distribution, so scores
    from sources with incomparable scales become directly mixable as
    VALUES, not just as ranks (`percentile_rank` is the uniform-
    reference special case of this transform).

    Mechanics: within-group exact percentile rank (RANK-based ppm —
    ties share, NULLs pass through) → ceiling grid cell on an
    `n_cuts`-step grid → the reference's exact rank-quantile value
    for that cell (group_quantiles — ACTUAL reference data values,
    never interpolation).  `reference` defaults to df itself (all
    groups pooled).  1e6 must be divisible by n_cuts so every grid
    ppm is exact (guarded).

    Plan shape: one group-keyed rank window over the rows + ONE rank
    window over the reference for ALL cuts, then a BROADCAST join of
    the n_cuts-sized cut table — row-grain data is never reshuffled
    after its rank window.  Grid resolution is the scale knob: the
    output differs from the exact quantile-match by at most one
    1/n_cuts quantile step.

    Output: input columns + (value_qn).

    The reference's optimizer size estimate picks how it is ranked:
    at most `QN_RANGE_RANK_BYTES` (8 MiB) it takes one global
    row_number window (no extra shuffles); above it, range-partition
    + per-partition rank + in-plan offsets (the 100 TB form: the
    reference never serializes through one task).  Both forms
    produce the identical cut table: any rank assignment consistent
    with the value order maps rank→value identically.
    """
    if n_cuts < 1 or 1_000_000 % n_cuts != 0:
        raise ValueError("n_cuts must divide 1e6 (e.g. 100, 1000)")
    step = 1_000_000 // n_cuts
    ref = reference if reference is not None else df
    # cut table built RELATIONALLY (range ⋈ ranked reference), not as
    # a group_quantiles literal cuts array: n_cuts=1000 literal
    # structs blow the 64 KB whole-stage-codegen method limit and
    # drop the plan to interpreted mode (caught by bench noise)
    spark = df.sparkSession
    rv = F.col(value_col)
    if _estimated_bytes(ref) > QN_RANGE_RANK_BYTES:
        # r13 (guide §2.5, VERDICT r12 #5): above bench scale the
        # single-partition row_number over the WHOLE reference (plus
        # the global count window) serializes the reference through
        # one task.  Range-partition by value, rank per partition,
        # and add the partition-offset prefix (a tiny per-partition
        # count frame joined broadcast) — any rank assignment
        # consistent with the value order maps rank→value
        # identically (ties carry equal values), so the cut table is
        # hash-identical (pinned by the rank-form parity test in
        # tests/test_sketch.py).
        pid = F.spark_partition_id()
        local = (
            ref.select(rv.alias("_rv"))
            .filter(F.col("_rv").isNotNull())
            .repartitionByRange(F.col("_rv"))
            .withColumn("_pid", pid)
            .withColumn(
                "_lrn",
                F.row_number().over(
                    Window.partitionBy("_pid").orderBy(F.col("_rv").asc())
                ),
            )
        )
        sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
        offs = sizes.select(
            "_pid",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("_nn"),
        )
        ranked_ref = local.join(F.broadcast(offs), "_pid").select(
            "_rv", (F.col("_off") + F.col("_lrn")).alias("_rn"), "_nn"
        )
        nn_row = offs.select("_nn").limit(1)
    else:
        ranked_ref = (
            ref.select(rv.alias("_rv"))
            .filter(F.col("_rv").isNotNull())
            .withColumn(
                "_rn", F.row_number().over(Window.orderBy(F.col("_rv").asc()))
            )
            .withColumn("_nn", F.count(F.lit(1)).over(Window.partitionBy()))
        )
        nn_row = ranked_ref.select("_nn").limit(1)
    grid = spark.range(1, n_cuts + 1).select(
        (F.col("id") * F.lit(step)).cast("long").alias("_q_ppm")
    )
    targets = grid.crossJoin(F.broadcast(nn_row)).select(
        "_q_ppm",
        F.expr("CAST((_q_ppm * _nn + 999999) div 1000000 AS BIGINT)")
        .alias("_rn"),
    )
    # broadcast the n_cuts-row target table, not the reference side:
    # at scale ranked_ref is the big side of this join
    cuts = F.broadcast(targets).join(ranked_ref, "_rn").select(
        "_q_ppm", F.col("_rv").alias("value_qn")
    )
    ranked = percentile_rank(df, value_col, group_cols, out_col="_pct")
    idx = F.expr(
        f"greatest(CAST(1 AS BIGINT), (_pct * {n_cuts} + 999999) div 1000000)"
    )
    with_q = ranked.withColumn(
        "_q_ppm",
        F.when(F.col("_pct").isNotNull(), idx * F.lit(step)).cast("long"),
    )
    return with_q.join(F.broadcast(cuts), ["_q_ppm"], "left") \
        .drop("_q_ppm", "_pct")


def mode_by_group(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 1,
) -> DataFrame:
    """Exact top-k modes per group with DETERMINISTIC tie-break
    (count desc, then value asc) — the categorical companion of
    `group_quantiles`: the typical status per endpoint, the dominant
    lang per source.  NULL values are excluded (they have their own
    report in table_profile's null ppm).

    Plan shape: one groupBy((groups), value) with map-side combine —
    the shuffle carries (group, distinct value) pairs — then one
    group-keyed row_number window over that aggregate (value-count
    grain, not row grain).  Exact counts, no sketch; for top-k over
    UNBOUNDED vocabularies at 100 TB use heavy_hitters (candidate /
    verify, no full-key shuffle) — this operator's contract is
    exactness on bounded-cardinality columns.

    Output: (…group, value [string], cnt, rank 1..k, share_ppm —
    exact share of the group's non-NULL rows).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(value_col)
    counts = (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, v.cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return mode_from_counts(counts, group_cols, k)


def mode_from_counts(
    counts: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """`mode_by_group`'s rank/share core over PRE-AGGREGATED
    (…group, value, cnt) rows — factored out (r13) so a caller that
    already holds the count grain (the a_stats 'lagf'+'mode' fusion
    shares one (day, event_type) aggregate) reuses the exact
    tie-break and share arithmetic instead of a parallel copy."""
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("cnt").desc(), F.col("value").asc()
    )
    w_g = Window.partitionBy(*group_cols)
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn("_tot", F.sum("cnt").over(w_g))
        .filter(F.col("rank") <= k)
        .select(
            *group_cols, "value", "cnt", "rank",
            F.expr("CAST(cnt * 1000000 div _tot AS BIGINT)")
            .alias("share_ppm"),
        )
    )


def join_size_estimate(
    a: DataFrame,
    b: DataFrame,
    key_col_a: str,
    key_col_b: str | None = None,
    width: int = 8192,
    depth: int = 5,
    salt: str = "jse",
) -> DataFrame:
    """Equi-join OUTPUT-SIZE estimate from count-min row inner
    products (AGMS lineage: Alon, Gibbons, Matias & Szegedy 1999;
    CMS inner product per Cormode & Muthukrishnan 2005) — the 100 TB
    pre-flight when even the key-distinct shuffle of
    `join_skew_report` is too much: |A ⋈ B| = Σ_k a_k·b_k, estimated
    by ``min_i Σ_bucket cntA[i][bucket]·cntB[i][bucket]`` over
    `depth` independent hash rows of `width` buckets.

    Guarantees: every hash row OVERcounts (collisions only add), so
    the min is an upper bound on the true join size, within
    ``(e/width)·|A|·|B|`` of it with probability ``1−e^−depth``.

    Determinism / replayability: buckets come from the engine's
    md5 `hash_bucket` (salt "{salt}:{i}:"), so DuckDB replays the
    SAME sketch bit-for-bit — the estimate itself is gate-checkable,
    not merely 'near the truth'.

    Shape: per side, one scan with a depth-way posexplode into
    (hash_row, bucket) partials — map-side combine caps the shuffle
    at depth·width rows per partition regardless of input rows —
    then a (depth·width)-sized join and a depth-sized aggregate.
    The per-side (hash_row, bucket, cnt) tables are MERGEABLE across
    batches/partitions by plain addition, so a streaming sink can
    maintain them incrementally.

    Output: (hash_row 0..depth−1, inner_product) + a summary row
    (hash_row = −1, inner_product = min) — the estimate."""
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    key_col_b = key_col_b if key_col_b is not None else key_col_a
    ta = cms_key_partials(a, key_col_a, width=width, depth=depth, salt=salt)
    tb = cms_key_partials(b, key_col_b, width=width, depth=depth, salt=salt)
    return cms_inner_product(ta, tb, depth=depth)


def cms_key_partials(
    df: DataFrame,
    key_col: str,
    width: int = 8192,
    depth: int = 5,
    salt: str = "jse",
) -> DataFrame:
    """One side's count-min table as ROWS — (hash_row, bucket, cnt):
    the mergeable, incrementally-maintainable form (two partials for
    the same (width, depth, salt) merge by plain cnt ADDITION; the
    streaming `make_cms_sink` appends per-batch partials and the
    reader sums).  md5 `hash_bucket` keys keep it engine-replayable.
    One scan, depth-way posexplode, map-side combine caps the shuffle
    at depth·width partials per partition."""
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    from .curation import hash_bucket

    k = F.col(key_col)
    buckets = F.array(*[
        hash_bucket(k, salt=f"{salt}:{i}:", buckets=width)
        for i in range(depth)
    ])
    return (
        df.filter(k.isNotNull())
        .select(F.posexplode(buckets).alias("hash_row", "bucket"))
        .groupBy("hash_row", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int = 5
) -> DataFrame:
    """Inner products of two `cms_key_partials` tables built with the
    SAME (width, depth, salt): per-hash-row Σ cntA·cntB plus the
    hash_row = −1 min summary — the join-size estimate.  The join is
    (depth·width)-bounded; the one SinglePartition exchange is over
    depth rows."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    tb = sketch_b.select(
        "hash_row", "bucket", F.col("cnt").alias("cnt_b")
    )
    prods = (
        sketch_a.join(tb, ["hash_row", "bucket"])
        .groupBy("hash_row")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("inner_product"))
    )
    # zero-overlap hash rows produce no join rows — restore them as 0
    # so the output always has depth rows + the min summary
    rows = sketch_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("hash_row")
    )
    full = rows.join(prods, "hash_row", "left_outer").select(
        "hash_row",
        F.coalesce("inner_product", F.lit(0)).cast("long")
        .alias("inner_product"),
    )
    est = full.agg(
        F.lit(-1).cast("int").alias("hash_row"),
        F.min("inner_product").cast("long").alias("inner_product"),
    )
    return full.unionByName(est)


def json_key_profile(df: DataFrame, json_col: str) -> DataFrame:
    """Schema discovery for a JSON-string payload column — the CDC
    after-image explorer (reference payloads are Debezium-style JSON
    objects; before you can parse with a schema you have to LEARN the
    schema): one row per top-level key with presence, type-shape, and
    cardinality counts, plus '__malformed__' / '__null__' total rows
    so every input row is accounted for (Σ accounting is a table
    invariant).

    Per key: n_present (key present, incl. JSON null), n_null (JSON
    null values), n_numeric (value try-casts to DOUBLE), n_bool
    ('true'/'false'), n_object / n_array (nested payload — recurse
    manually where these dominate), n_distinct (distinct non-null
    value strings), present_ppm (exact integer share of VALID object
    rows).  Value strings come from the engine's JSON extraction with
    compact re-serialization for nested values — DuckDB's
    json_extract_string emits the same compact form, so the profile
    is engine-replayable.

    Contract: only top-level JSON OBJECTS profile; top-level arrays/
    scalars/broken strings all count '__malformed__' (Spark's
    from_json(map) returns NULL for each — one consistent bucket).

    Shape: one scan, one explode of per-row key arrays (cost Σ keys
    per row), one (key)-grouped aggregate carrying distinct via a
    count_distinct Expand — at 100 TB profile a SAMPLE (hash_sample)
    first; the aggregate's key space is the JSON vocabulary, not
    rows."""
    j = F.col(json_col)
    m = F.from_json(j, "map<string,string>")
    base = df.select(j.alias("_j"), m.alias("_m")).localCheckpoint(
        eager=False
    )
    # one aggregate job for all three totals (null / malformed /
    # valid) — not three filtered counts over the checkpoint
    tot = base.agg(
        F.count(F.when(F.col("_j").isNull(), 1)).alias("n_null"),
        F.count(
            F.when(F.col("_j").isNotNull() & F.col("_m").isNull(), 1)
        ).alias("n_malformed"),
        F.count(F.when(F.col("_m").isNotNull(), 1)).alias("n_valid"),
    ).first()
    n_null, n_malformed, n_valid = (
        tot["n_null"], tot["n_malformed"], tot["n_valid"]
    )
    valid = base.filter(F.col("_m").isNotNull())
    kv = valid.select(F.explode("_m").alias("key", "v"))
    denom = max(int(n_valid), 1)
    per_key = kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.count(F.when(F.col("v").isNull(), 1)).cast("long")
        .alias("n_null"),
        F.count(F.when(F.expr("try_cast(v AS DOUBLE)").isNotNull(), 1))
        .cast("long").alias("n_numeric"),
        F.count(F.when(F.col("v").isin("true", "false"), 1))
        .cast("long").alias("n_bool"),
        F.count(F.when(F.col("v").startswith("{"), 1)).cast("long")
        .alias("n_object"),
        F.count(F.when(F.col("v").startswith("["), 1)).cast("long")
        .alias("n_array"),
        F.count_distinct(F.col("v")).cast("long").alias("n_distinct"),
    ).withColumn(
        "present_ppm",
        F.expr(f"CAST(n_present * 1000000 div {denom} AS BIGINT)"),
    )
    spark = df.sparkSession
    totals = spark.createDataFrame(
        [("__malformed__", int(n_malformed)), ("__null__", int(n_null))],
        "key string, n_present long",
    ).select(
        "key", "n_present",
        *[F.lit(0).cast("long").alias(c) for c in
          ("n_null", "n_numeric", "n_bool", "n_object", "n_array",
           "n_distinct")],
        F.lit(0).cast("long").alias("present_ppm"),
    )
    return per_key.unionByName(totals)
