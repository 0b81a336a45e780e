"""Date/time scalar functions (SURVEY.md §2.7 F10-F13).

- F10 date bucketing   : advanced_trend_analyzer.py:77,87 (hour/minute
  buckets) — prefer ``date_trunc`` over string formatting so the bucket
  stays a timestamp (partition-prunable, orderable).
- F11 ISO-8601 parse   : targetDB1/SyncService.py:289-304
- F12 day-range expand : ArticleServiceImpl.java:210-218
- F13 empty→NULL       : SyncService.py:330-333
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hour_bucket(ts: Column) -> Column:
    """F10: hour-grain bucket (replaces Redis key '%Y%m%d%H')."""
    return F.date_trunc("hour", ts)


def stored_date(ts: Column) -> Column:
    """F10: yyyyMMdd string form (the reference's CHAR(8) stored_date)."""
    return F.date_format(ts, "yyyyMMdd")


def parse_iso_ts(col: Column) -> Column:
    """F11: parse ISO-8601 strings, tolerating a trailing 'Z'
    (SyncService.py replaces 'Z' with '+00:00'; Spark's to_timestamp
    handles both once we normalize)."""
    normalized = F.regexp_replace(col, r"Z$", "+00:00")
    return F.to_timestamp(normalized)


def day_range(start_date: Column, end_date: Column) -> tuple[Column, Column]:
    """F12: expand a date pair to [start 00:00:00, end 23:59:59]."""
    start_ts = F.to_timestamp(start_date)
    end_ts = F.to_timestamp(end_date) + F.expr("INTERVAL 23 HOURS 59 MINUTES 59 SECONDS")
    return start_ts, end_ts


def empty_to_null(col: Column) -> Column:
    """F13: '' → NULL for nullable numeric/timestamp text fields."""
    return F.when(F.trim(col) == "", F.lit(None)).otherwise(col)
