"""Persisted aggregate tables (SURVEY.md §2.1 S11, §2.5 W9).

The reference materializes keyword counters in Redis zsets keyed by
hour/minute buckets with TTL expiry (advanced_trend_analyzer.py:68-91).
The Spark-native equivalent is a date-partitioned parquet (or
lakehouse) aggregate table:

- writes land in `date=YYYY-MM-DD/` partitions (one per event-time
  day) — the analog of hour-bucketed Redis keys;
- range reads (W9) prune partitions at the source (verified by plan
  tests) — the analog of fetching only the bucketed keys in range;
- retention (the Redis TTL) is partition drop, an O(1) metadata
  operation instead of per-key expiry.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_aggregate_table(
    agg: DataFrame, path: str, bucket_col: str = "bucket", mode: str = "overwrite"
) -> None:
    """Persist a (bucket, key, cnt) aggregate partitioned by event-time
    date.  At 100 TB this is the one materialization the trend/alert
    read paths share."""
    (
        agg.withColumn("date", F.date_format(F.col(bucket_col), "yyyy-MM-dd"))
        .repartition("date")
        .write.mode(mode)
        .partitionBy("date")
        .parquet(path)
    )


def read_aggregate_range(
    spark: SparkSession, path: str, start_ts: str, end_ts: str, bucket_col: str = "bucket"
) -> DataFrame:
    """W9: range read over the aggregate table.  The `date` partition
    filter prunes directories; the bucket filter prunes row groups."""
    df = spark.read.parquet(path)
    return df.filter(
        (F.col("date") >= F.date_format(F.lit(start_ts).cast("timestamp_ntz"), "yyyy-MM-dd"))
        & (F.col("date") <= F.date_format(F.lit(end_ts).cast("timestamp_ntz"), "yyyy-MM-dd"))
        & (F.col(bucket_col) >= F.lit(start_ts).cast("timestamp_ntz"))
        & (F.col(bucket_col) <= F.lit(end_ts).cast("timestamp_ntz"))
    )


def expire_partitions(path: str, keep_after_date: str) -> list[str]:
    """Retention: drop partitions older than `keep_after_date`
    (YYYY-MM-DD) — the Redis-TTL analog as O(partitions) metadata ops.
    Local filesystem only: a plain path or a ``file://`` URI (loud
    ValueError on remote URIs — silently expiring nothing would defeat
    the retention contract)."""
    from ..streaming.store import local_path

    path = local_path(path)
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for entry in sorted(os.listdir(path)):
        if entry.startswith("date=") and entry.split("=", 1)[1] < keep_after_date:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(entry)
    return dropped
