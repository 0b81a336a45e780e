"""Batch query API mirroring the reference's REST surface
(SURVEY.md §3.2, §3.3):

- GET /api/v1/articles            → get_articles   (P6, O1, O2, P7, J1)
- GET /api/v1/articles/search     → search         (P6 LIKE pair)
- GET /api/v1/articles/stats      → stats          (A7-A11)
- count-by-category               → count_by_category (A7)
- GET /trending-keywords-advanced → trending       (§3.2: A3+W1-W5)
- GET /keyword-timeline           → timeline       (W8)
- wordcloud snapshot              → wordcloud      (A4, A5, A13)
- recent alerts                   → recent_alerts  (O3/O4)

Each function takes DataFrames (the `articles`/`media`/aggregate
tables) and returns a DataFrame — the serving layer (REST/WebSocket,
out of engine scope, SURVEY §2.1 S13) would sit on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import text as textfn
from .operators import alerts as alerts_ops
from .operators import relational, trends, windows


def get_articles(
    articles: DataFrame,
    media: DataFrame | None = None,
    category: str | None = None,
    keyword: str | None = None,
    start_ts: str | None = None,
    end_ts: str | None = None,
    sort_by: str = "created_at",
    ascending: bool = False,
    page: int = 0,
    size: int = 20,
    with_total: bool = False,
) -> DataFrame:
    """ArticleController.getArticles (ArticleServiceImpl.java:38-51):
    dynamic predicate → sort → page → DTO projection with keyword
    split (P7) and nested media (J1).  ``with_total=True`` adds the
    Page-contract ``total_count`` column (the filtered cardinality the
    reference's Page<Article> carries, ArticleController.java:30-36)."""
    qf = relational.QueryFilter(
        category=category, keyword=keyword, start_ts=start_ts, end_ts=end_ts
    )
    page_df = relational.dynamic_query(
        articles, qf, sort_by=sort_by, ascending=ascending, page=page, size=size,
        with_total=with_total,
    )
    out = page_df.withColumn("keyword_list", textfn.split_csv(F.col("keywords")))
    if media is not None:
        out = relational.join_one_to_many(
            out, media, "article_id", ["id", "type", "url", "caption"], "media_items"
        ) if "article_id" in out.columns else out.join(
            media.groupBy("article_id").agg(
                F.collect_list(F.struct("id", "type", "url", "caption")).alias("media_items")
            ),
            out["id"] == F.col("article_id"),
            "left",
        ).drop("article_id")
    return out


def search(articles: DataFrame, query: str, limit: int = 20) -> DataFrame:
    """ArticleServiceImpl.java:172-183: case-insensitive LIKE over
    title|content, newest first."""
    qf = relational.QueryFilter(keyword=query)
    return (
        articles.filter(qf.predicate())
        .orderBy(F.col("created_at").desc(), F.col("id").asc())
        .limit(limit)
    )


def stats(articles: DataFrame) -> DataFrame:
    """ArticleServiceImpl.java:62-90 aggregate bundle (A7-A10) as one
    single-pass conditional aggregation."""
    live = articles.filter(~F.coalesce(F.col("is_deleted"), F.lit(False)))
    return live.agg(
        F.count(F.lit(1)).alias("total_articles"),
        F.countDistinct("category").alias("categories"),
        F.countDistinct("stored_date").alias("active_days"),
        F.max("created_at").alias("latest_article_at"),
    )


def count_by_category(articles: DataFrame) -> DataFrame:
    """A7: SELECT category, COUNT(*) WHERE is_deleted=false GROUP BY."""
    return (
        articles.filter(~F.coalesce(F.col("is_deleted"), F.lit(False)))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def trending(hourly_counts: DataFrame, as_of: str, limit: int = 20) -> DataFrame:
    """§3.2 read path as ONE set-oriented query: multi-window counts
    (incl. adjacent-previous windows) → 1h/6h velocities with the
    brand-new boost → z-score → direction → compound score → top-k
    (vs the reference's O(candidates×200) Redis point reads,
    advanced_trend_analyzer.py:288-312)."""
    mw = trends.multi_window_counts(hourly_counts, as_of, include_prev=True)
    z = (
        trends.zscore_anomaly(hourly_counts)
        .filter(F.col("bucket") == F.lit(as_of).cast("timestamp_ntz"))
        .select("keyword", "zscore", "anomaly")
    )
    metrics = (
        mw.join(z, "keyword", "left")
        .withColumn("velocity_1h", trends.window_velocity(F.col("cnt_1h"), F.col("prev_1h"), 1))
        .withColumn("velocity_6h", trends.window_velocity(F.col("cnt_6h"), F.col("prev_6h"), 6))
        .withColumn("zscore", F.coalesce("zscore", F.lit(0.0)))
        .withColumn("anomaly", F.coalesce("anomaly", F.lit(0.0)))
    )
    directed = trends.trend_direction(metrics)
    scored = trends.compound_scored(directed)
    return trends.trending_ranking(scored, limit)


def timeline(minute_counts: DataFrame, keyword: str, start_ts: str, end_ts: str) -> DataFrame:
    """W8 dense minute series for one keyword."""
    return trends.timeline(minute_counts, keyword, start_ts, end_ts)


def wordcloud(keyword_counts: DataFrame, top_k: int = 50) -> DataFrame:
    """WordCloudData (realtime_keyword_aggregator.py:15-23): top-k plus
    totals for a window's counts."""
    top = windows.topk_global(keyword_counts, top_k)
    totals = keyword_counts.agg(
        F.sum("cnt").alias("total_count"), F.countDistinct("keyword").alias("unique_keywords")
    )
    return top.crossJoin(F.broadcast(totals))


def recent_alerts(alert_log: DataFrame, limit: int = 100) -> DataFrame:
    """O3: newest-100 alert read."""
    return alerts_ops.recent_alerts(alert_log, limit)
