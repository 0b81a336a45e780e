"""Skew mitigation for hot keys (SURVEY.md §4; the 100 TB concern).

Trending keyword streams are Zipfian — a breaking keyword can be 1000×
hotter than the median, and a single reducer partition becomes the
straggler.  Two mitigations beyond AQE's automatic skew-join split:

- ``salted_count``: two-phase aggregation — count on (key, salt) with
  a random salt, then re-aggregate by key.  The hot key's work spreads
  over `salt_buckets` reducers; the second shuffle moves only
  (key × salt) partial rows.
- ``salted_join``: replicate the small side per salt bucket so a
  skewed equi-join spreads the hot key's probe rows.

Both are semantics-preserving (proven by equivalence tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import data_files


def salted_count(
    df: DataFrame, key_cols: list[str], salt_buckets: int = 16, count_col: str = "cnt"
) -> DataFrame:
    """Two-phase skew-safe count: groupBy(key, salt) → groupBy(key).

    Deterministic salt from a stable row attribute would skew again, so
    the salt is uniform-random per row (monotonically_increasing_id is
    per-partition-sequential → cheap and well spread across buckets)."""
    salted = df.withColumn("_salt", (F.monotonically_increasing_id() % salt_buckets))
    partial = salted.groupBy(*key_cols, "_salt").agg(F.count(F.lit(1)).alias("_partial"))
    return partial.groupBy(*key_cols).agg(F.sum("_partial").alias(count_col))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skewed-side salted equi-join: the skewed side gets a random salt
    in [0, buckets); the small side is exploded ×buckets so every
    (key, salt) combination finds its match.  Use when the small side
    is too big to broadcast but the key distribution is Zipfian — or in
    stream-static micro-batch joins, where AQE's runtime skew split
    does not apply.

    how ∈ {inner, left}: each skewed row carries exactly one salt and
    the small side carries every salt, so both forms are row-for-row
    ≡ ``skewed.join(small, key, how)`` (asserted in tests) — 'left'
    keeps unmatched skewed rows with nulls, exactly like the unsalted
    left join."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    s = skewed.withColumn("_salt", (F.monotonically_increasing_id() % salt_buckets))
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return s.join(replicated, [key, "_salt"], how).drop("_salt")


def join_advice(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    broadcast_cap_bytes: int = 100 * 1024 * 1024,
    hot_share_ppm: int = 200_000,
    k: int = 5,
) -> dict:
    """Pre-flight join planning report — the decision the operator
    tier otherwise leaves implicit, made inspectable BEFORE a 100 TB
    join is submitted:

    - Catalyst's optimized-plan size estimates for both sides (the
      same statistics AQE plans from),
    - the top-k skew keys with their exact output share
      (`relational.join_skew_report` — two count shuffles over the
      inputs, the only data this report scans),
    - a strategy recommendation:
      'broadcast_smaller'  — one side fits under broadcast_cap_bytes;
      'salt_hot_keys'      — no broadcast fit and one key exceeds
                             hot_share_ppm of the join output (route
                             those keys through `salted_join`, or
                             rely on AQE skew-join if the skew is in
                             partition sizes rather than one key);
      'shuffle_join'       — no broadcast fit, no dominating key.

    Returns a plain dict (a driver-side report, not a dataset): sizes,
    the recommendation, and the skew rows.  Cost: two metadata reads +
    the skew report's bounded aggregation."""
    from .relational import join_skew_report

    def est_bytes(df: DataFrame) -> int:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )

    lb, rb = est_bytes(left), est_bytes(right)
    skew = [r.asDict() for r in join_skew_report(left, right, key_col, k).collect()]
    hot = [r for r in skew if r["share_ppm"] >= hot_share_ppm]
    if min(lb, rb) <= broadcast_cap_bytes:
        rec = "broadcast_smaller"
    elif hot:
        rec = "salt_hot_keys"
    else:
        rec = "shuffle_join"
    return {
        "left_bytes_est": lb,
        "right_bytes_est": rb,
        "broadcast_side": ("right" if rb <= lb else "left")
        if rec == "broadcast_smaller" else None,
        "recommendation": rec,
        "hot_keys": [r[key_col] for r in hot],
        "skew_topk": skew,
    }


def small_files_report(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    include_row_counts: bool = False,
):
    """Small-files audit for a parquet dataset — the lakehouse ops
    pre-flight `join_advice` is for joins: a 100 TB table fragmented
    into KB-scale files pays per-file open/footer costs and starves
    the scan of its `maxPartitionBytes` batching (session.py sizes
    partitions at 128 MB for exactly this reason).

    The default path reads ONLY filesystem metadata — a recursive
    Hadoop FileStatus listing (path + length per data file), zero
    data rows scanned — so it is safe as a cheap pre-flight on a
    100 TB table.  `include_row_counts=True` ADDITIONALLY aggregates
    the hidden `_metadata` column per file to report per-file row
    counts; that grouping SCANS EVERY DATA ROW of the dataset (the
    `_metadata` column is per-row), so only opt in where a full scan
    is acceptable.  Returns a driver-side dict (the join_advice
    report shape): file count, byte totals, small-file count/share vs
    `target_bytes`, the p50 file size, and the advisory — 'compact'
    when more than half the files are under half the target,
    'healthy' otherwise, with the suggested coalesce factor.
    """
    sizes = sorted(size for _, _, size in data_files(spark, path))
    row_counts = {}
    if include_row_counts:
        counted = (
            spark.read.parquet(path)
            .select(F.col("_metadata.file_path").alias("fp"))
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )
        row_counts = {r["fp"]: int(r["n_rows"]) for r in counted}
    n = len(sizes)
    total = sum(sizes)
    small = sum(1 for s in sizes if s < target_bytes // 2)
    p50 = sizes[(n - 1) // 2] if n else 0
    compact = n > 0 and small * 2 > n
    factor = max(1, round(total / target_bytes)) if total else 1
    return {
        "n_files": n,
        "total_bytes": total,
        "p50_bytes": p50,
        "n_small": small,
        "small_share_ppm": (small * 1_000_000 // n) if n else 0,
        "target_bytes": target_bytes,
        "advice": (
            f"compact: coalesce/rewrite into ~{factor} files of "
            f"~{target_bytes // (1024*1024)} MB"
            if compact else "healthy"
        ),
        "rows": row_counts,
    }
