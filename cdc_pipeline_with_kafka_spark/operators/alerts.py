"""Alert rules (SURVEY.md §2.5 W10-W11, §2.4 A12, §2.6 O3).

Breaking + trending alert semantics of the Kafka Streams topology
(crawler-service/.../alert/AlertTopology.java:49-99,
AlertAnalyzer.java:13-98) and the python analyzer's threshold rules
(advanced_trend_analyzer.py:238-267), as plain filters over the
windowed aggregates — no custom state, so the same code runs in batch
and as a streaming query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# AlertConfig.java:30-41 / application.yml:101-108.
BREAKING_MIN_WORD_COUNT = 50
BREAKING_MIN_SOURCES = 3
TRENDING_MIN_MENTIONS = 10
# readme.md:210-213: ≥300% growth with ≥10 mentions.
SURGE_GROWTH_RATIO = 3.0


def trending_alerts(windowed_counts: DataFrame, min_mentions: int = TRENDING_MIN_MENTIONS) -> DataFrame:
    """W11: per-window keyword counts ≥ min_mentions
    (AlertAnalyzer.java:45-50)."""
    return windowed_counts.filter(F.col("cnt") >= min_mentions)


def breaking_alerts(
    word_stats: DataFrame,
    min_word_count: int = BREAKING_MIN_WORD_COUNT,
    min_sources: int = BREAKING_MIN_SOURCES,
) -> DataFrame:
    """A12 rule: any word frequency ≥ 50 AND ≥ 3 distinct sources in a
    5-min (window, category) group (AlertAnalyzer.java:13-43).
    Input: operators.windows.breaking_word_stats output."""
    return word_stats.filter(
        (F.col("max_word_cnt") >= min_word_count)
        & (F.col("distinct_sources") >= min_sources)
    )


def surge_alerts(
    windowed_counts: DataFrame,
    growth_ratio: float = SURGE_GROWTH_RATIO,
    min_mentions: int = TRENDING_MIN_MENTIONS,
    key_col: str = "keyword",
) -> DataFrame:
    """W10 (readme 300% rule): current window ≥ ratio × previous window
    and ≥ min_mentions.  lag over (keyword, window_start)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy("window_start")
    prev = F.lag("cnt").over(w)
    out = windowed_counts.withColumn("prev_cnt", prev)
    return out.filter(
        (F.col("cnt") >= min_mentions)
        & F.col("prev_cnt").isNotNull()
        & (F.col("prev_cnt") > 0)
        & (F.col("cnt") >= F.col("prev_cnt") * growth_ratio)
    )


def recent_alerts(alerts: DataFrame, limit: int = 100, ts_col: str = "timestamp") -> DataFrame:
    """O3/O4: newest-N alert log read (Redis LTRIM 0..99 semantics,
    advanced_trend_analyzer.py:280-284)."""
    return alerts.orderBy(F.col(ts_col).desc()).limit(limit)
