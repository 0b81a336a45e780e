"""Relational query surface (SURVEY.md §2.2 P6-P8, §2.3 J1-J3,
§2.4 A7-A11, §2.6 O1-O2, O7).

Mirrors the reference's JPA dynamic-specification query layer
(ArticleServiceImpl.java:190-238, ArticleRepository.java:26-93) as
composable DataFrame transforms.  Everything here is declarative so
Catalyst gets predicate pushdown / column pruning / broadcast joins
for free; at 100 TB the same code runs over partitioned tables with
partition pruning on the date/bucket columns.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# fuzzy_join auto hot-gram cap: absolute df floor below which the cap
# never engages — keeps the probe from capping small/test vocabularies
# where Σ|posting|² is harmless anyway
_FUZZY_AUTO_MIN_DF = 256


def _fuzzy_auto_cap(mx, p99) -> int | None:
    """fuzzy_join's hot-gram cap rule, pure so tests pin it: engage
    only when the hottest gram's df exceeds BOTH 4×p99(df) (it is a
    skew outlier, not the shape of the vocabulary) and the absolute
    floor; the cap is that threshold, so only the outlier
    tail prunes and few strings reroute to the length-band lane."""
    if mx is None:
        return None
    cap = max(4 * int(p99), _FUZZY_AUTO_MIN_DF)
    return cap if int(mx) > cap else None


@dataclass
class QueryFilter:
    """P6: the dynamic predicate bundle from the REST query surface
    (category equality, keyword LIKE over title|content, created_at
    range, soft-delete flag) — ArticleServiceImpl.java:190-222."""

    category: str | None = None
    keyword: str | None = None
    start_ts: str | None = None
    end_ts: str | None = None
    include_deleted: bool = False

    def predicate(
        self,
        category_col: str = "category",
        title_col: str = "title",
        content_col: str = "content",
        ts_col: str = "created_at",
        deleted_col: str | None = "is_deleted",
    ) -> Column:
        pred = F.lit(True)
        if self.category is not None:
            pred = pred & (F.col(category_col) == self.category)
        if self.keyword is not None:
            kw = self.keyword.lower()
            pred = pred & (
                F.lower(F.col(title_col)).contains(kw)
                | F.lower(F.col(content_col)).contains(kw)
            )
        if self.start_ts is not None:
            pred = pred & (F.col(ts_col) >= F.lit(self.start_ts))
        if self.end_ts is not None:
            pred = pred & (F.col(ts_col) <= F.lit(self.end_ts))
        if not self.include_deleted and deleted_col is not None:
            pred = pred & ~F.coalesce(F.col(deleted_col), F.lit(False))
        return pred


def dynamic_query(
    df: DataFrame,
    qf: QueryFilter,
    *,
    sort_by: str | None = None,
    ascending: bool = False,
    page: int = 0,
    size: int = 20,
    with_total: bool = False,
    **predicate_cols,
) -> DataFrame:
    """P6 + O1 + O2: filter → dynamic sort → stable offset pagination.

    Pagination uses row_number over the requested sort (plus a tiebreak
    on the first column) so pages are stable, as the reference's
    Pageable contract requires (ArticleController.java:30-36).

    ``with_total=True`` appends a ``total_count`` column (the filtered
    cardinality before pagination), matching the reference's
    ``Page<Article>`` contract where JPA issues a separate COUNT query
    alongside the page (ArticleController.java:30-36).  It is computed
    as a separate aggregate of the filtered set cross-joined
    (broadcast, 1 row) onto the page — two scans, like JPA's two
    queries, never a single-partition global window.

    Scale note: OFFSET pagination is inherently a global sort; at
    100 TB a keyset filter (`WHERE sort_col > last_seen`) replaces the
    row_number — both are provided, this is the offset form.
    """
    filtered = df.filter(qf.predicate(**predicate_cols))
    out = filtered
    if sort_by is not None:
        order = [
            F.col(sort_by).asc() if ascending else F.col(sort_by).desc(),
            F.col(df.columns[0]).asc(),  # deterministic tiebreak
        ]
        w = Window.orderBy(*order)
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") > page * size) & (F.col("_rn") <= (page + 1) * size))
            .drop("_rn")
        )
    if with_total:
        total = filtered.agg(F.count(F.lit(1)).alias("total_count"))
        out = out.crossJoin(F.broadcast(total))
    return out


def keyset_page(
    df: DataFrame, sort_col: str, last_seen, size: int = 20, ascending: bool = True
) -> DataFrame:
    """O2 at scale: keyset (seek) pagination — no global row numbering,
    the filter pushes to the scan."""
    col = F.col(sort_col)
    pred = col > F.lit(last_seen) if ascending else col < F.lit(last_seen)
    if last_seen is None:
        pred = F.lit(True)
    ordered = df.filter(pred).orderBy(col.asc() if ascending else col.desc())
    return ordered.limit(size)


def join_one_to_many(
    parent: DataFrame,
    child: DataFrame,
    key: str,
    child_struct_cols: list[str],
    child_alias: str = "children",
) -> DataFrame:
    """J1: articles ⋈ media embedding — left join then collect_list of
    child structs per parent (entity/Article.java:78-79).

    The child side aggregates BEFORE the join so the join input is one
    row per key (smaller shuffle, and the join can broadcast when the
    aggregated child side is small)."""
    nested = child.groupBy(key).agg(
        F.collect_list(F.struct(*[F.col(c) for c in child_struct_cols])).alias(child_alias)
    )
    return parent.join(nested, key, "left")


def join_dim(fact: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """J2: fact ⋈ small dimension — explicit broadcast hint.

    At 100 TB the dimension (categories: 6 rows; nation/region: ≤25)
    must never shuffle the fact side."""
    return fact.join(F.broadcast(dim), on, how)


def anti_join_new_keys(new: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """J3/P8/S14: rows of `new` whose key is absent from `existing`
    (dedup-insert path, ArticleServiceImpl.java:131-134)."""
    return new.join(existing.select(key), key, "left_anti")


def exists_key(df: DataFrame, existing: DataFrame, key: str) -> DataFrame:
    """P8: rows whose key exists (left semi)."""
    return df.join(existing.select(key), key, "left_semi")


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """O7: first row per key.  dropDuplicates is nondeterministic about
    which row survives; we keep the lowest first-column value for
    reproducibility (matters for oracle comparison and idempotency)."""
    order_col = df.columns[0]
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def stats_by_group(df: DataFrame, group_col: str, date_col: str) -> DataFrame:
    """A9: per-group count + min/max of a date column
    (ArticleRepository.java:56-65)."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(date_col).alias("min_date"),
        F.max(date_col).alias("max_date"),
    )


def daily_counts(df: DataFrame, date_col: str, days: int) -> DataFrame:
    """A11: count per day, newest first, limit N
    (ArticleRepository.java:70-79)."""
    return (
        df.groupBy(date_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col(date_col).desc())
        .limit(days)
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward as-of join: enrich each left row with the value columns
    of the LATEST right row whose timestamp is ≤ the left row's (ties
    included) — point-in-time enrichment (events against the most
    recent aggregate/rate/state snapshot), an operator Spark's join
    zoo lacks.

    Union-and-carry formulation, NOT a range join: both sides are
    tagged and unioned, then one window per key ordered by (ts, side)
    carries the last non-null right values forward
    (``last(..., ignorenulls=True)``).  Cost is ONE shuffle of
    |left|+|right| rows and a per-key sort — no range-condition
    BroadcastNestedLoop/cartesian blowup, which is what a naive
    ``l.ts >= r.ts`` join plans at 100 TB.  Right rows sort before
    left rows at equal timestamps, so same-instant snapshots are
    visible (backward semantics, matching DuckDB's ASOF JOIN — the
    oracle in tests).
    """
    lcols = [c for c in left.columns]
    tagged_left = left.select(
        *[F.col(k) for k in key_cols],
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols if c not in key_cols],
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"_r_{v}") for v in value_cols],
    )
    tagged_right = right.select(
        *[F.col(k) for k in key_cols],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in key_cols],
        *[F.col(v).alias(f"_r_{v}") for v in value_cols],
    )
    w = (
        Window.partitionBy(*[F.col(k) for k in key_cols])
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged_left.unionByName(tagged_right).select(
        "*", *[F.last(f"_r_{v}", ignorenulls=True).over(w).alias(v) for v in value_cols]
    )
    return carried.filter(F.col("_side") == 1).select(
        *key_cols,
        F.col("_ts").alias(left_ts),
        *[c for c in lcols if c not in key_cols and c != left_ts],
        *value_cols,
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-interval join without the cartesian plan: Catalyst
    plans a bare ``p.v >= i.s AND p.v < i.e`` condition as a
    BroadcastNestedLoop/cartesian product — |points|·|intervals|
    comparisons, the join that dies first at 100 TB.  Here both sides
    map to integer buckets of `bucket_width` (each interval explodes
    into every bucket it overlaps), the join becomes a plain
    hash-partitioned EQUI-join on the bucket, and the exact range
    predicate re-checks the candidates (the Databricks range-join-hint
    strategy as plain DataFrame ops).

    Candidate volume is Σ⌈len/width⌉ per interval instead of the
    cross product — pick `bucket_width` near the typical interval
    length so most intervals explode into 1-2 buckets.  Inner-join
    semantics; both range columns must be numeric (cast timestamps to
    epoch first).  Half-open containment: start ≤ v < end.

    `key_cols` (present on BOTH sides) joins on (keys, bucket) —
    the common "sessions of THIS user containing this event" shape;
    the keys ride in the shuffle partitioning, so per-key skew
    follows the same salting escape hatches as any equi-join.

    HAZARD: a single interval explodes into ⌈len/width⌉ candidate
    rows — an unbounded/sentinel end (year 9999) with a small width
    generates a giant per-row array.  Clamp open-ended intervals to
    the data's horizon before joining, and size `bucket_width` from
    the interval-length distribution (`sketch.quantile_summary`), not
    the point density.
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    p = points.withColumn(
        "_bkt",
        F.floor(F.col(point_col).cast("double") / F.lit(float(bucket_width))).cast("long"),
    )
    s_bkt = F.floor(F.col(start_col).cast("double") / F.lit(float(bucket_width))).cast("long")
    # an interval whose exclusive end sits exactly on a bucket boundary
    # explodes into one extra (empty) bucket — harmless: candidates are
    # re-checked by the exact predicate, and correctness never depends
    # on the bucket arithmetic being tight
    e_bkt = F.floor(F.col(end_col).cast("double") / F.lit(float(bucket_width))).cast("long")
    i = intervals.withColumn(
        "_bkt",
        F.explode(F.sequence(s_bkt, F.greatest(e_bkt, s_bkt))),
    )
    cond = (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
    join_cols = ["_bkt"] + list(key_cols or [])
    return p.join(i, join_cols).filter(cond).drop("_bkt")


def _auto_interval_params(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    width_quantile: float = 0.5,
) -> tuple[int | None, float | None, float | None]:
    """(bucket_width, lo, hi) for interval_join_auto: lo/hi are the
    point domain (two 1-row aggregates); width is the
    `width_quantile` of the CLAMPED interval lengths via the
    Greenwald-Khanna sketch (mergeable, the 100 TB form) — clamped
    first, so a sentinel end (year 9999) cannot drag the width
    estimate.  All driver traffic is two single-row collects.
    Returns (None, None, None) when the points side is empty."""
    pr = points.agg(
        F.min(F.col(point_col).cast("double")).alias("lo"),
        F.max(F.col(point_col).cast("double")).alias("hi"),
    ).first()
    if pr["lo"] is None:
        return None, None, None
    lo, hi = float(pr["lo"]), float(pr["hi"])
    clamped_len = F.greatest(
        F.least(F.col(end_col).cast("double"), F.lit(hi + 1.0))
        - F.greatest(F.col(start_col).cast("double"), F.lit(lo)),
        F.lit(0.0),
    )
    qr = intervals.agg(
        F.approx_percentile(
            clamped_len, F.lit(float(width_quantile)), F.lit(10000)
        ).alias("q")
    ).first()
    q = qr["q"] if qr is not None else None
    width = max(1, int(math.ceil(q))) if q and q > 0 else 1
    return width, lo, hi


def interval_join_auto(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    key_cols: list[str] | None = None,
    width_quantile: float = 0.5,
) -> DataFrame:
    """interval_join with the two manual hazards automated (the
    docstring's guidance, shipped as code):

    1. `bucket_width` is sized FROM THE DATA — the `width_quantile`
       (default median) of the interval-length distribution via one
       GK-sketch aggregate, so most intervals explode into 1-2
       buckets even under skewed length distributions.
    2. open-ended / sentinel intervals are CLAMPED to the point
       domain before bucketing: for every point lo ≤ v ≤ hi,
       v ≥ max(start, lo) ⟺ v ≥ start and v < min(end, hi+1) ⟺
       v < end, so clamping changes no result row — but it caps the
       explode at ⌈(hi−lo)/width⌉ buckets where a year-9999 end would
       otherwise generate an astronomically long per-row sequence.
       The clamp lives in INTERNAL columns used only for bucketing
       and the candidate re-check; output rows carry the caller's
       original `start_col`/`end_col` values and types untouched
       (a year-9999 sentinel reads back as year 9999, ints stay
       ints), so the result schema is identical to interval_join's.

    Driver traffic: two 1-row aggregates.  Empty points → empty
    result without ever exploding the intervals."""
    width, lo, hi = _auto_interval_params(
        points, intervals, point_col, start_col, end_col, width_quantile
    )
    if width is None:
        return interval_join(
            points.limit(0), intervals.limit(0),
            point_col, start_col, end_col, 1, key_cols,
        )
    clamped = intervals.withColumn(
        "_cl_s", F.greatest(F.col(start_col).cast("double"), F.lit(lo))
    ).withColumn(
        "_cl_e", F.least(F.col(end_col).cast("double"), F.lit(hi + 1.0))
    )
    return interval_join(
        points, clamped, point_col, "_cl_s", "_cl_e", width, key_cols
    ).drop("_cl_s", "_cl_e")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_range: tuple[str, str],
    right_range: tuple[str, str],
    bucket_width: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Interval × interval OVERLAP join (half-open: overlap iff
    l.s < r.e AND r.s < l.e) without the nested-loop plan — the
    interval-interval sibling of interval_join's point-in-interval
    (together they cover the Databricks range-join surface as plain
    DataFrame ops).  Sessions × outages, spans × annotations,
    validity-period reconciliation.

    Both sides explode to the integer buckets they cover; candidates
    come from the bucket EQUI-join; the exact predicate re-checks.
    DUPLICATE SUPPRESSION WITHOUT A SHUFFLE: an overlapping pair
    shares every bucket in [max(start buckets), min(end buckets)], so
    keeping only ``bucket == max(start buckets)`` emits each pair
    EXACTLY once — no dropDuplicates exchange (proof sketch: the max
    start bucket is ≤ both end buckets whenever the intervals
    overlap; asserted against the naive join in tests).

    Zero-length intervals follow the strict formula (a point-interval
    'overlaps' any interval strictly containing its point — degenerate
    point events keep working).  Column names must be disjoint across
    the two sides except `key_cols`; the same clamp/width guidance as
    interval_join applies (size bucket_width from the length
    distribution; clamp open-ended intervals first)."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    l_s, l_e = left_range
    r_s, r_e = right_range
    keys = list(key_cols or [])
    common = (set(left.columns) & set(right.columns)) - set(keys)
    if common:
        raise ValueError(
            f"ambiguous columns on both sides: {sorted(common)}; rename one side"
        )
    w = float(bucket_width)

    def bkt(col: str):
        return F.floor(F.col(col).cast("double") / F.lit(w)).cast("long")

    L = left.withColumn(
        "_bkt", F.explode(F.sequence(bkt(l_s), F.greatest(bkt(l_e), bkt(l_s))))
    )
    R = right.withColumn(
        "_bkt", F.explode(F.sequence(bkt(r_s), F.greatest(bkt(r_e), bkt(r_s))))
    )
    cond = (F.col(l_s) < F.col(r_e)) & (F.col(r_s) < F.col(l_e))
    first = F.col("_bkt") == F.greatest(bkt(l_s), bkt(r_s))
    return L.join(R, ["_bkt"] + keys).filter(cond & first).drop("_bkt")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    include_values: bool = False,
) -> DataFrame:
    """CDC-style table diff between two snapshot versions: which keys
    were inserted, deleted, or updated — the reconciliation primitive
    a CDC pipeline runs to audit its own sink (does the replicated
    table equal the source snapshot?) or to SYNTHESIZE a change feed
    when the upstream has no binlog (reference's target-DB sync is
    row-by-row upsert, targetDB1/SyncService.py; this is the
    set-oriented batch face of the same contract).

    One full-outer equi-join on the keys; per-column drift is counted
    with NULL-safe equality (<=>), so NULL→value and value→NULL both
    count as changes.  Unchanged rows are DROPPED — output is the
    change feed only: key cols + change ('insert'|'update'|'delete') +
    n_changed_cols (0 for insert/delete; ≥1 for update).

    100 TB shape: the one shuffle is the key-partitioned outer join —
    bucket both snapshot tables by the key (bucketing.write_bucketed)
    and the diff runs join-side-local; column compares are codegen
    row-local.  `compare_cols` defaults to every shared non-key
    column (pass a subset to ignore audit/timestamp churn).

    ``include_values=True`` additionally carries the NEW-side value of
    every compare column (NULL on deletes), making the diff an
    APPLICABLE PATCH: delete the 'delete' keys from old, upsert the
    'insert'/'update' rows, and you reconstruct new exactly — the
    round-trip property held in tests.  That is the change feed
    `streaming.sinks.reconcile_snapshot` turns into CDC events and
    applies with merge_upsert."""
    if not key_cols:
        raise ValueError("need key_cols")
    if compare_cols is None:
        compare_cols = [
            c for c in new.columns
            if c not in key_cols and c in set(old.columns)
        ]
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_o"),
    )
    n = new.select(
        *key_cols,
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_n"),
    )
    j = o.join(n, list(key_cols), "full_outer")
    changed_terms = [
        F.when(
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), 1
        ).otherwise(0)
        for c in compare_cols
    ]
    n_changed = changed_terms[0] if changed_terms else F.lit(0)
    for t in changed_terms[1:]:
        n_changed = n_changed + t
    out = j.select(
        *key_cols,
        F.when(F.col("_in_o").isNull(), F.lit("insert"))
        .when(F.col("_in_n").isNull(), F.lit("delete"))
        .when(n_changed > 0, F.lit("update"))
        .alias("change"),
        F.when(
            F.col("_in_o").isNull() | F.col("_in_n").isNull(), F.lit(0)
        ).otherwise(n_changed).cast("int").alias("n_changed_cols"),
        *(
            [F.col(f"_n_{c}").alias(c) for c in compare_cols]
            if include_values else []
        ),
    )
    return out.filter(F.col("change").isNotNull())


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    attr_cols: list[str],
    op_col: str | None = None,
    delete_ops: tuple = ("d",),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a CDC change
    stream: one validity interval per (key, version) —
    (key cols, attr cols, effective_from, effective_to, is_current) —
    the warehouse-side shape every "state as of time T" query wants,
    built from the same Debezium-style ops the streaming tier parses
    (sources/cdc.py).

    `order_cols` orders a key's changes (include a unique tiebreaker —
    the CDC offset/event id — or same-timestamp changes make the
    version sequence nondeterministic).  effective_from = the change's
    first order col; effective_to = the NEXT change's (half-open,
    NULL = still current).  A delete op CLOSES the prior version's
    interval and emits no row of its own, so a deleted key simply has
    no current version.

    One keyed window (lead over key partitions — never a global sort)
    + one filter: at 100 TB this is a single shuffle on the key,
    partition-prunable when the change log is date-partitioned."""
    if not key_cols or not order_cols or not attr_cols:
        raise ValueError("need key_cols, order_cols and attr_cols")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    from_col = F.col(order_cols[0])
    to_col = F.lead(order_cols[0]).over(w)
    hist = changes.select(
        *key_cols,
        *attr_cols,
        *( [F.col(op_col)] if op_col else [] ),
        from_col.alias("effective_from"),
        to_col.alias("effective_to"),
        *[F.col(c).alias(f"_ord_{i}") for i, c in enumerate(order_cols[1:], 1)],
    ).drop(*[f"_ord_{i}" for i in range(1, len(order_cols))])
    if op_col:
        # NULL-safe: `~op.isin(...)` is NULL for a NULL op, which a
        # bare filter would silently DROP — a malformed change event
        # vanishing from history.  A NULL op is an ordinary change
        # (only an explicit delete op closes-without-emitting).
        hist = hist.filter(
            ~F.coalesce(F.col(op_col).isin(list(delete_ops)), F.lit(False))
        ).drop(op_col)
    return hist.withColumn(
        "is_current", F.col("effective_to").isNull()
    )


def join_skew_report(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    k: int = 20,
) -> DataFrame:
    """Pre-flight skew diagnosis for an equi-join — the report you run
    BEFORE a 100 TB join melts one reducer: per join key the left/right
    multiplicities and the output-row product, top-k by product.  A key
    whose product dominates the total is the one to salt
    (`operators.skew.salted_join`) or to route through the skew-join
    AQE path.

    Output: (key_col, l_cnt, r_cnt, out_rows, share_ppm) — share_ppm
    is the key's exact integer share of the TOTAL join output, so
    "one key is 40% of the join" reads directly off the report.

    Shape: one partial-aggregated groupBy per side (key-cardinality
    shuffles), an inner join of the two (small) count tables, and a
    TakeOrdered top-k.  For open-vocabulary keys where even the count
    tables are huge, feed each side through `sketch.heavy_hitters`
    first and diff the candidate sets instead.

    Bound: share_ppm computes out_rows·1e6 in long arithmetic, so a
    single key's product must stay < 9.2e12 output rows (~3M × 3M
    multiplicities) — past that the report overflows, and the join it
    is diagnosing was never going to run anyway."""
    if k < 1:
        raise ValueError("k must be >= 1")
    lc = left.groupBy(key_col).agg(F.count(F.lit(1)).alias("l_cnt"))
    rc = right.groupBy(key_col).agg(F.count(F.lit(1)).alias("r_cnt"))
    prod = lc.join(rc, key_col).select(
        key_col, "l_cnt", "r_cnt",
        (F.col("l_cnt") * F.col("r_cnt")).cast("long").alias("out_rows"),
    )
    total = prod.agg(F.coalesce(F.sum("out_rows"), F.lit(0)).alias("_tot"))
    return (
        prod.crossJoin(F.broadcast(total))
        .select(
            key_col, "l_cnt", "r_cnt", "out_rows",
            F.when(
                F.col("_tot") > 0,
                F.expr("CAST(out_rows * 1000000 div _tot AS BIGINT)"),
            ).otherwise(F.lit(0)).cast("long").alias("share_ppm"),
        )
        .orderBy(F.col("out_rows").desc(), F.col(key_col).asc())
        .limit(k)
    )


def merkle_summary(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Bucketed integrity summary for replica ANTI-ENTROPY — the step
    BEFORE `snapshot_diff` at 100 TB: comparing two replicas row-by-
    row means shipping both tables through a key-partitioned outer
    join; comparing their merkle summaries ships `n_buckets` rows,
    and only DIVERGENT buckets (usually a handful after a bounded
    drift window) pay the row-level diff.  This is the Merkle-tree /
    anti-entropy repair idea of Dynamo-style replication, flattened
    to one level and expressed as a pure aggregate.

    Per row: a 52-bit digest (md5 of the canonical field concat —
    first 13 hex chars, the engine's exact-in-doubles hash recipe)
    and a bucket = key-hash mod n_buckets (bucket derives from the
    KEY only, so the same key lands in the same bucket on both
    replicas regardless of value drift).  Per bucket: row count +
    digest SUM as DECIMAL(38,0) (order-free, shard-mergeable,
    overflow-safe to ~1e25 rows/bucket).  Two tables are equal iff
    their summaries are equal (up to md5-sum collision, ≥2^52
    per-bucket work to forge accidentally).

    Canonicalization contract: fields are compared as
    ``CAST(col AS STRING)`` with a NULL sentinel and unit separators
    — engine-portable for ints/strings/dates; QUANTIZE doubles first
    (e.g. cents as BIGINT) since float→string formatting is
    engine-specific.

    Shape: one scan, one partial-aggregated groupBy on the bucket id
    — reducer input is buckets, not rows.  Output: (bucket, n_rows,
    sum_digest)."""
    if not key_cols:
        raise ValueError("need key_cols")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols]
    # \x1e sentinel, not NUL: the oracle engine (DuckDB) cannot hold
    # NUL bytes in strings, and the digest must replay cross-engine
    sep, nul = "\x1f", "\x1e"

    def canon(cols: list[str]):
        return F.concat_ws(
            sep, *[
                F.coalesce(F.col(c).cast("string"), F.lit(nul)) for c in cols
            ]
        )

    h52 = F.conv(F.substring(F.md5(canon(key_cols + value_cols)), 1, 13), 16, 10).cast(
        "long"
    )
    kh = F.conv(F.substring(F.md5(canon(key_cols)), 1, 13), 16, 10).cast("long")
    return (
        df.select(
            F.pmod(kh, F.lit(int(n_buckets))).cast("int").alias("bucket"),
            h52.cast("decimal(38,0)").alias("_d"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("_d").alias("sum_digest"),
        )
    )


def merkle_diff(a: DataFrame, b: DataFrame) -> DataFrame:
    """Divergent buckets between two `merkle_summary` frames: one
    FULL OUTER join on the bucket id (n_buckets rows per side — the
    whole comparison ships KBs), emitting only buckets whose
    (n_rows, sum_digest) disagree or that exist on one side only.
    Output: (bucket, n_rows_a, n_rows_b, status) with status ∈
    {'diff', 'missing_a', 'missing_b'} — feed the bucket list back
    as a pre-filter (key-hash mod n_buckets IN (...)) and run
    `snapshot_diff` on just those buckets' rows: the anti-entropy
    repair loop at scale (composition pinned in tests)."""
    sa = a.select(
        "bucket", F.col("n_rows").alias("n_rows_a"),
        F.col("sum_digest").alias("_da"), F.lit(1).alias("_ia"),
    )
    sb = b.select(
        "bucket", F.col("n_rows").alias("n_rows_b"),
        F.col("sum_digest").alias("_db"), F.lit(1).alias("_ib"),
    )
    j = sa.join(sb, "bucket", "full_outer")
    status = (
        F.when(F.col("_ia").isNull(), F.lit("missing_a"))
        .when(F.col("_ib").isNull(), F.lit("missing_b"))
        .when(
            (F.col("n_rows_a") != F.col("n_rows_b"))
            | (F.col("_da") != F.col("_db")),
            F.lit("diff"),
        )
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("bucket", "n_rows_a", "n_rows_b", "status")
    )


def scd2_as_of(history: DataFrame, ts) -> DataFrame:
    """Point-in-time read over an SCD2 history (`scd2_history` or the
    streaming sink's `read_scd2_history` view): the table state AS OF
    `ts` — one row per key whose validity interval covers the instant
    (``effective_from ≤ ts < effective_to``, half-open like the
    history itself; open intervals cover everything ≥ their start).
    `ts` compares in effective_from's own type (timestamp, epoch
    micros, CDC offset — whatever ordered the history).

    This is the query the whole SCD2 shape exists to serve ("what did
    the dimension look like when the model trained?"), and it is a
    pure FILTER: partition/zone pruning applies on both bounds, no
    join, no window — at 100 TB, date-partition the history on
    effective_from and the scan prunes to intervals opened before
    `ts`.  `is_current` is dropped (it describes the latest state,
    not the as-of instant)."""
    t = F.lit(ts)
    out = history.filter(
        (F.col("effective_from") <= t)
        & (F.col("effective_to").isNull() | (F.col("effective_to") > t))
    )
    return out.drop("is_current") if "is_current" in history.columns else out


def record_linkage_score(
    pairs: DataFrame,
    field_weights: dict[str, tuple[float, float]],
    upper_micro: int | None = None,
    lower_micro: int | None = None,
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over CANDIDATE PAIRS —
    the entity-resolution step after blocking (reference analogue:
    the dedup-insert link check, SyncService — which only catches
    EXACT key matches; this scores fuzzy ones): for each field with
    (m, u) = P(agree | match), P(agree | non-match), agreement adds
    ln(m/u), disagreement adds ln((1−m)/(1−u)), a missing side adds 0
    (no evidence), and the pair's score is the sum of log-odds.

    The log-odds are computed ONCE in Python at plan-build time and
    embedded as integer-micro literals — Spark only sums integers per
    pair, so there is NO libm seam and the score replays exactly on
    any engine (the mi_core/psi_core determinism contract, shifted
    into the plan itself).

    Blocking is deliberately the caller's job: the engine already
    ships the blockers (prefix_jaccard_pairs, minhash_lsh_pairs,
    phash/simhash band matches, plain key joins) — this operator
    never sees the n² space, only the candidate pairs.

    Input: one row per candidate pair with `<field>_a` / `<field>_b`
    columns per scored field.  Output: the input columns +
    (score_micro, n_agree, n_disagree, n_missing [, decision]) —
    decision ∈ match / possible / non_match when both thresholds are
    given (Fellegi–Sunter's three-way rule).
    """
    import math

    if not field_weights:
        raise ValueError("field_weights must be non-empty")
    for f, (m, u) in field_weights.items():
        if not (0 < m < 1 and 0 < u < 1):
            raise ValueError(f"m/u for {f!r} must be in (0, 1)")
        if m <= u:
            raise ValueError(
                f"m must exceed u for {f!r} (agreement must be "
                "evidence FOR a match)"
            )
    if (upper_micro is None) != (lower_micro is None):
        raise ValueError("give both thresholds or neither")
    if upper_micro is not None and upper_micro < lower_micro:
        raise ValueError("upper_micro must be >= lower_micro")

    score = F.lit(0).cast("long")
    agree_n = F.lit(0).cast("long")
    dis_n = F.lit(0).cast("long")
    miss_n = F.lit(0).cast("long")
    for f, (m, u) in field_weights.items():
        wa = int(round(math.log(m / u) * 1_000_000))
        wd = int(round(math.log((1 - m) / (1 - u)) * 1_000_000))
        a, b = F.col(f"{f}_a"), F.col(f"{f}_b")
        missing = a.isNull() | b.isNull()
        agree = a == b
        score = score + F.when(missing, F.lit(0)).when(
            agree, F.lit(wa)
        ).otherwise(F.lit(wd)).cast("long")
        agree_n = agree_n + F.when(
            ~missing & agree, F.lit(1)
        ).otherwise(F.lit(0))
        dis_n = dis_n + F.when(
            ~missing & ~agree, F.lit(1)
        ).otherwise(F.lit(0))
        miss_n = miss_n + F.when(missing, F.lit(1)).otherwise(F.lit(0))
    out = pairs.withColumn("score_micro", score) \
        .withColumn("n_agree", agree_n) \
        .withColumn("n_disagree", dis_n) \
        .withColumn("n_missing", miss_n)
    if upper_micro is not None:
        out = out.withColumn(
            "decision",
            F.when(F.col("score_micro") >= upper_micro, F.lit("match"))
            .when(F.col("score_micro") < lower_micro, F.lit("non_match"))
            .otherwise(F.lit("possible")),
        )
    return out


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """STRUCTURAL drift between two frame versions — the schema-level
    companion of `snapshot_diff` (row drift) and `profile_diff`
    (distribution drift): which columns appeared, vanished, changed
    type, or changed nullability between yesterday's delivery and
    today's.  CDC pipelines break on exactly this (an upstream
    ALTER TABLE) long before any value-level monitor fires.

    Pure metadata — reads ZERO rows from either side (Spark schemas
    come from the catalog/parquet footer), so it is safe to run
    before every batch of a 100 TB feed.  Nested struct fields are
    compared by their full dotted path, so a type change buried three
    levels into a props struct surfaces as its own row.

    Output: one row per differing column path: (column, status ∈
    added/removed/type_changed/nullability_changed, old_type,
    new_type, old_nullable, new_nullable); empty frame ⇔ schemas are
    identical (order-insensitive — column ORDER is presentation, not
    contract).
    """
    from pyspark.sql import types as T

    def _flat(schema, prefix=""):
        out = {}
        for f in schema.fields:
            path = f"{prefix}{f.name}"
            out[path] = (f.dataType.simpleString(), f.nullable)
            if isinstance(f.dataType, T.StructType):
                inner = _flat(f.dataType, f"{path}.")
                out.update(inner)
        return out

    a, b = _flat(old.schema), _flat(new.schema)
    rows = []
    for path in sorted(set(a) | set(b)):
        ta, tb = a.get(path), b.get(path)
        if ta is None:
            rows.append((path, "added", None, tb[0], None, tb[1]))
        elif tb is None:
            rows.append((path, "removed", ta[0], None, ta[1], None))
        elif ta[0] != tb[0]:
            rows.append((path, "type_changed", ta[0], tb[0], ta[1], tb[1]))
        elif ta[1] != tb[1]:
            rows.append(
                (path, "nullability_changed", ta[0], tb[0], ta[1], tb[1])
            )
    return old.sparkSession.createDataFrame(
        rows,
        "column string, status string, old_type string, new_type string, "
        "old_nullable boolean, new_nullable boolean",
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """Edit-distance (Levenshtein) join without the cross product —
    the fuzzy field matcher `record_linkage_score` composes with for
    typo'd names/addresses: every (left, right) row pair whose
    strings differ by ≤ `max_dist` edits.

    SOUND q-gram count filtering (Gravano et al. 1998): one edit
    destroys at most q distinct q-grams, so strings within distance d
    share ≥ |G(a)| − d·q distinct grams — candidates come from a
    shared-gram equi-join + a per-pair shared-count threshold, then
    the capped JVM `levenshtein(a, b, max_dist)` verifies (the
    three-arg form stops the DP at the threshold: O(len·d), not
    O(len²)).  Strings too short for the filter to bite
    (|G| ≤ d·q — the filter would admit everything) take the SHORT
    lane: an exact-length-bucket equi-join over the (2d+1)-value
    expanded length band — bounded work because the lane only holds
    strings of ≤ ~d·q + q − 1 characters.  No lane is a nested loop
    (plan-pinned in tests).

    Distinct-string discipline: candidate generation runs on DISTINCT
    strings of each side (the shuffle carries vocabulary, not rows),
    and matching pairs join back to the row tables at the end — 100
    TB row counts pay two hash joins, never the pairing itself.

    Hot-gram cap: a cap prunes hot-gram postings (grams shared by
    more than `cap` distinct strings, both sides pooled) — the
    Σ|posting|² skew killer — WITHOUT losing exactness, unlike
    ngram_jaccard_pairs' recall-trading cap: the count threshold
    relaxes by the pair's smaller hot-gram count (a true pair hides
    at most min(h_a, h_b) shared grams in the dropped set), and
    strings whose kept-gram count ≤ max_dist·q reroute to the
    length-band lane.  The hot set is ≤ Σ|grams| / cap entries and
    broadcasts.  Results are IDENTICAL with or without the cap
    (pinned by the parity test); only the plan changes.

    The cap comes from the gram document-frequency profile the
    posting join implicitly depends on anyway (one vocabulary-sized
    aggregate, never row-grain, collected EAGERLY as one row at call
    time): it engages only when the hottest gram's df exceeds both
    ``4 × p99(df)`` and an absolute floor of 256 — an adversarial /
    stop-gram-heavy vocabulary — and is then set to that threshold
    (`_fuzzy_auto_cap`), so ≲1% of grams prune and few strings
    reroute to the length-band lane (which is only length-bounded
    for naturally short strings; an aggressive cap there would trade
    one skew for another).  Wholesome vocabularies pay the profile
    probe and keep the uncapped plan.

    Output: left rows × right rows for matching pairs + (dist).
    NULL keys never match.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    la, lb = F.col(left_col), F.col(right_col)

    def grams(col):
        # padded distinct q-grams: \x01 s \x02 sliding windows
        padded = F.concat(F.lit("\x01"), col, F.lit("\x02"))
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(padded) - q + 1, F.lit(1)),
                ),
                lambda i: padded.substr(i, F.lit(q)),
            )
        )

    A = left.select(la.alias("_a")).filter(
        F.col("_a").isNotNull()
    ).distinct().withColumn("_ga", grams(F.col("_a"))).withColumn(
        "_ca", F.size("_ga")
    ).withColumn("_lena", F.length("_a")).localCheckpoint(eager=False)
    B = right.select(lb.alias("_b")).filter(
        F.col("_b").isNotNull()
    ).distinct().withColumn("_gb", grams(F.col("_b"))).withColumn(
        "_cb", F.size("_gb")
    ).withColumn("_lenb", F.length("_b")).localCheckpoint(eager=False)

    floor_g = max_dist * q
    gram_df = (
        A.select(F.explode("_ga").alias("_g"))
        .unionByName(B.select(F.explode("_gb").alias("_g")))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .localCheckpoint(eager=False)
    )
    prof = gram_df.agg(
        F.max("_df").alias("mx"),
        F.expr("approx_percentile(_df, 0.99)").alias("p99"),
    ).collect()[0]
    cap = _fuzzy_auto_cap(prof["mx"], prof["p99"])
    if cap is not None:
        # SOUND hot-gram pruning: drop postings of grams shared by
        # more than `cap` distinct strings (both sides pooled).
        # Unlike ngram_jaccard_pairs' recall-trading cap, exactness
        # is PRESERVED: with h_s = s's hot-gram count, a true pair
        # still shares ≥ max(ca, cb) − d·q − min(ha, hb) KEPT grams
        # (each side can hide at most its own hot grams), so the
        # count filter relaxes by least(ha, hb); strings whose KEPT
        # count ≤ d·q (where that bound stops guaranteeing a shared
        # kept posting) reroute to the length-band lane.
        hot_set = gram_df.filter(F.col("_df") > cap).agg(
            F.collect_set("_g").alias("hs")
        )
        A = A.crossJoin(F.broadcast(hot_set)).withColumn(
            "_ka", F.array_except("_ga", F.col("hs"))
        ).withColumn("_ha", F.col("_ca") - F.size("_ka")).drop("hs")
        B = B.crossJoin(F.broadcast(hot_set)).withColumn(
            "_kb", F.array_except("_gb", F.col("hs"))
        ).withColumn("_hb", F.col("_cb") - F.size("_kb")).drop("hs")
    else:
        A = A.withColumn("_ka", F.col("_ga")).withColumn(
            "_ha", F.lit(0)
        )
        B = B.withColumn("_kb", F.col("_gb")).withColumn(
            "_hb", F.lit(0)
        )
    # LONG lane: gram-count filter bites (KEPT |G| > d·q on BOTH
    # sides; with no cap kept ≡ all and _h ≡ 0)
    a_long = A.filter(F.col("_ca") - F.col("_ha") > floor_g).select(
        "_a", "_ca", "_ha", F.explode("_ka").alias("_g")
    )
    b_long = B.filter(F.col("_cb") - F.col("_hb") > floor_g).select(
        "_b", "_cb", "_hb", F.explode("_kb").alias("_g")
    )
    shared = a_long.join(b_long, "_g").groupBy(
        "_a", "_b", "_ca", "_cb", "_ha", "_hb"
    ).agg(F.count(F.lit(1)).alias("_shared"))
    long_cand = shared.filter(
        F.col("_shared")
        >= F.greatest(F.col("_ca"), F.col("_cb")) - F.lit(floor_g)
        - F.least(F.col("_ha"), F.col("_hb"))
    ).select("_a", "_b")
    # SHORT lane: either side short → exact-length-bucket expansion
    # (a pair can't match unless the OTHER side is within d length,
    # i.e. also short+d — bounded strings, bounded lane)
    a_short = A.filter(F.col("_ca") - F.col("_ha") <= floor_g).select(
        "_a",
        F.explode(
            F.sequence(
                F.greatest(F.col("_lena") - max_dist, F.lit(0)),
                F.col("_lena") + max_dist,
            )
        ).alias("_lb_len"),
    )
    short_cand = a_short.join(
        B.select("_b", F.col("_lenb").alias("_lb_len")), "_lb_len"
    ).select("_a", "_b")
    # a long-A × short-B pair: B's length ≤ short bound, so A's
    # length ≤ that + d — A is in the short lane's band already IF A
    # is short; a LONG-A/short-B true pair has |len diff| ≤ d, so A
    # len ≤ shortlen + d ⇒ |G(A)| ≤ lenA + q − 1 ≤ floor_g is NOT
    # guaranteed — cover it by a mirrored short lane on B
    b_short = B.filter(F.col("_cb") - F.col("_hb") <= floor_g).select(
        "_b",
        F.explode(
            F.sequence(
                F.greatest(F.col("_lenb") - max_dist, F.lit(0)),
                F.col("_lenb") + max_dist,
            )
        ).alias("_la_len"),
    )
    short_cand2 = b_short.join(
        A.select("_a", F.col("_lena").alias("_la_len")), "_la_len"
    ).select("_a", "_b")
    cand = long_cand.unionByName(short_cand).unionByName(
        short_cand2
    ).distinct()
    dist = F.levenshtein(F.col("_a"), F.col("_b"), max_dist)
    pairs = cand.withColumn("dist", dist).filter(F.col("dist") >= 0)
    # join back by ALIAS-QUALIFIED conditions: `pairs` carries the
    # row tables in its lineage, so a bare left[left_col] == pairs._a
    # can resolve left_col INSIDE the pair subtree (the self-join
    # trap) and silently degrade to a cross join — the alias pins
    # each side's attributes.
    return (
        left.alias("__fj_l")
        .join(
            pairs.alias("__fj_p"),
            F.col(f"__fj_l.{left_col}") == F.col("__fj_p._a"),
        )
        .join(
            right.alias("__fj_r"),
            F.col("__fj_p._b") == F.col(f"__fj_r.{right_col}"),
        )
        .drop("_a", "_b")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995)
    — the OTHER classic entity-resolution candidate generator next to
    `fuzzy_join`'s q-gram lanes: sort all records by a blocking key
    (phonetic code, name prefix, zip+street) and emit each record
    paired with its `window` successors in sort order.  Candidates
    are O(n·window) BY CONSTRUCTION whatever the key distribution —
    the tool for keys where edit distance is the wrong metric but
    sort locality is right, and the standard multi-pass trick is to
    union passes over different keys.

    Scale shape: the naive form is a GLOBAL row_number — a
    SinglePartition window, the exact trap ks_drift/gains are
    engineered around.  Here the global dense rank is assembled from
    a range partition: repartitionByRange(key, id) →
    per-PARTITION row_number (partitionBy(spark_partition_id())) →
    in-plan partition offsets (a per-partition count frame prefix-
    summed by one tiny window — r13; previously an eager driver
    collect) added back via a broadcast join.  Total order is (key, id) — ties
    broken by id, so the rank (hence the pair set) is deterministic
    and engine-replayable.  Pairing is ONE equi-join on the rank
    (each row exploded to its `window` successor ranks); neighbor
    pairs that straddle partition boundaries fall out of the same
    join, no special casing.

    Output: (id_a, id_b, key_a, key_b, gap ∈ [1, window]) with
    id_a's record sorting strictly before id_b's.  NULL keys are
    excluded (block them in a separate pass if needed)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    d = (
        df.select(F.col(id_col).alias("_id"), F.col(key_col).alias("_k"))
        .filter(F.col("_k").isNotNull())
        .repartitionByRange(F.col("_k"), F.col("_id"))
    )
    pid = F.spark_partition_id()
    w_part = Window.partitionBy("_pid").orderBy("_k", "_id")
    local = d.withColumn("_pid", pid).withColumn(
        "_rn", F.row_number().over(w_part)
    )
    # r13: partition offsets IN-PLAN (tiny per-partition count frame,
    # prefix-summed by one window, broadcast back) instead of the old
    # eager localCheckpoint + driver collect — the whole operator is
    # now one lazy plan: ~4 s of per-call build jobs gone (this fed
    # the snb/snbm gate branches and two property suites), and the
    # empty-input special case falls out of the plan itself.  The
    # offs and ranked legs both consume the SAME range exchange; its
    # subtrees are identical so ReusedExchange executes the (sampled)
    # range partitioning once — pinned by
    # test_sorted_neighborhood_single_range_exchange, because offsets
    # from one sampling applied to another's pids would mis-rank.
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    offs = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    ranked = local.join(F.broadcast(offs), "_pid").select(
        "_id", "_k", (F.col("_off") + F.col("_rn")).alias("_grn")
    )
    succ = ranked.select(
        F.col("_id").alias("id_b"), F.col("_k").alias("key_b"),
        F.explode(
            F.sequence(
                F.col("_grn") - window,
                F.col("_grn") - 1,
            )
        ).alias("_grn"),
        F.col("_grn").alias("_grn_b"),
    )
    return (
        ranked.join(succ, "_grn")
        .select(
            F.col("_id").alias("id_a"),
            "id_b",
            F.col("_k").alias("key_a"),
            "key_b",
            (F.col("_grn_b") - F.col("_grn")).cast("int").alias("gap"),
        )
    )


def sorted_neighborhood_pairs_multi(
    df: DataFrame,
    id_col: str,
    key_cols: list[str],
    window: int = 10,
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood blocking — the deployment
    Hernández & Stolfo (SIGMOD 1995, §4) actually recommend: one
    pass per independent blocking key (name-key, phone-key,
    zip+street-key), candidate pairs unioned.  A single pass misses
    records that sort apart on one corrupted field; several cheap
    small-window passes over DIFFERENT keys recover far more true
    matches than one expensive wide-window pass (the paper's
    headline result).

    Each pass is `sorted_neighborhood_pairs` (O(n·window), no
    SinglePartition window); pairs are canonicalized to unordered
    form (id_a < id_b — two keys may sort the same pair in opposite
    orders) and deduplicated by one pair-grain groupBy that also
    reports HOW the pair was found: `n_keys` (how many passes
    emitted it — a cheap match-confidence prior: agreeing on two
    independent keys beats one) and `min_gap` (its closest sort
    distance across passes).  Cost: Σ per-pass cost + one shuffle at
    candidate-pair grain — still O(n·window·|keys|) by construction.

    Output: (id_a, id_b, n_keys, min_gap) with id_a < id_b.  NULL
    keys are excluded per pass (a record with a NULL phone still
    pairs through its other keys)."""
    if not key_cols:
        raise ValueError("key_cols must name at least one blocking key")
    if len(set(key_cols)) != len(key_cols):
        raise ValueError("key_cols must be distinct")
    passes = None
    for k in key_cols:
        p = sorted_neighborhood_pairs(df, id_col, k, window=window).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "gap",
        )
        passes = p if passes is None else passes.unionByName(p)
    return passes.groupBy("id_a", "id_b").agg(
        # one unordered pair appears at most once per pass (ranks are
        # unique within a pass), so count(*) IS the pass count
        F.count(F.lit(1)).cast("int").alias("n_keys"),
        F.min("gap").cast("int").alias("min_gap"),
    )


# American Soundex letter→digit map over the 24 letters that remain
# once H/W are dropped (they are TRANSPARENT: same-coded consonants
# separated by h/w merge — the Ashcraft rule)
_SDX_FROM = "ABCDEFGIJKLMNOPQRSTUVXYZ"
_SDX_TO = "".join(
    {**{c: "0" for c in "AEIOUY"},
     **{c: "1" for c in "BFPV"}, **{c: "2" for c in "CGJKQSXZ"},
     **{c: "3" for c in "DT"}, "L": "4", "M": "5", "N": "5", "R": "6"}[c]
    for c in "ABCDEFGIJKLMNOPQRSTUVXYZ"
)


def soundex_key(col) -> Column:
    """American Soundex (Russell & Odell; the NARA coding rules) as a
    PURE COLUMN-EXPRESSION chain — the classic phonetic blocking key
    for record linkage (Hernández & Stolfo's own multi-pass example:
    one sorted-neighborhood pass on the name, one on its soundex, one
    on zip+street): same-sounding misspellings land in one block, so
    it pairs naturally with `sorted_neighborhood_pairs_multi` and
    `fuzzy_join`.

    The standard algorithm, expressed as upper → strip non-letters →
    drop transparent H/W → translate to digits → collapse adjacent
    repeats (backreference regex) → drop the first letter's own code
    (unless the name starts with H/W, whose code never entered) →
    strip vowel zeros → pad to LETTER+3.  Whole chain is
    translate/regexp/substr — JVM codegen, no UDF — and replays
    verbatim in any engine with the same primitives (the 'sdx' gate
    runs the identical chain in DuckDB SQL).  Pinned on the canonical
    fixture set (Robert/Rupert→R163, Ashcraft/Ashcroft→A261,
    Tymczak→T522, Pfister→P236, Honeyman→H555) and on a hypothesis
    sweep against the pure-Python model.

    NULL and letterless inputs yield NULL (no phonetic evidence —
    block them separately, the NULL-key convention of the other
    blockers)."""
    u = F.regexp_replace(F.upper(col), "[^A-Z]", "")
    first = F.substring(u, 1, 1)
    dropped = F.translate(u, "HW", "")
    coded = F.translate(dropped, _SDX_FROM, _SDX_TO)
    collapsed = F.regexp_replace(coded, r"(\d)\1+", r"$1")
    tail = F.when(
        first.isin("H", "W"), collapsed
    ).otherwise(F.regexp_replace(collapsed, "^.", ""))
    digits = F.translate(tail, "0", "")
    return F.when(F.length(u) == 0, F.lit(None).cast("string")).otherwise(
        F.substring(F.concat(first, digits, F.lit("000")), 1, 4)
    )


def jw_core(a: str, b: str, prefix_scale_ppm: int = 100_000,
            max_prefix: int = 4) -> int:
    """Pure-Python Jaro–Winkler similarity as an EXACT integer ppm —
    the shared kernel of `jaro_winkler` (Spark) and its oracle replay
    (the ks_core/psi_core pattern): all arithmetic is plain big-int
    over the common denominator 6·m·|a|·|b|, floored to ppm ONCE at
    the end, so both engines land the identical integer with no IEEE
    seam anywhere.  (Value-identical to the earlier Fraction form —
    pinned by a cross-check test — and ~3× faster per pair: JW is
    exactly computable without rational objects, and what remains is
    the character-window matching loop itself.)

    Standard definitions (Jaro 1989; Winkler 1990): match window
    max(|a|,|b|)//2 − 1; t = half the transposed matches; jaro =
    (m/|a| + m/|b| + (m−t)/m)/3; winkler boost jw = jaro +
    ℓ·p·(1−jaro) with ℓ = common prefix capped at `max_prefix` and
    p = prefix_scale_ppm/1e6 (0.1 classic, p·max_prefix ≤ 1 so jw
    stays in [0, 1]).  With num/den the jaro numerator/denominator,
    floor(jw·1e6) = (num·1e6 + ℓ·ppm·(den − num)) // den exactly."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1_000_000
    if la == 0 or lb == 0:
        return 0
    window = max(max(la, lb) // 2 - 1, 0)  # clamp: 1-char strings
    used = [False] * lb
    ma, mb = [], []
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not used[j] and b[j] == ca:
                used[j] = True
                ma.append(ca)
                mb.append(j)
                break
    m = len(ma)
    if m == 0:
        return 0
    mb_chars = [b[j] for j in sorted(mb)]
    t2 = sum(1 for x, y in zip(ma, mb_chars) if x != y)  # 2·t
    # jaro = (m/la + m/lb + (2m−t2)/(2m)) / 3 over the common
    # denominator den = 6·m·la·lb (num ≤ den, so jw stays in [0,1])
    num = 2 * m * m * (la + lb) + (2 * m - t2) * la * lb
    den = 6 * m * la * lb
    ell = 0
    for x, y in zip(a[:max_prefix], b[:max_prefix]):
        if x != y:
            break
        ell += 1
    # jw = jaro + ℓ·(ppm/1e6)·(1−jaro); floor(jw·1e6) exactly:
    return (num * 1_000_000 + ell * int(prefix_scale_ppm) * (den - num)) \
        // den


def jaro_winkler(
    pairs: DataFrame,
    col_a: str,
    col_b: str,
    out_col: str = "jw_ppm",
    prefix_scale_ppm: int = 100_000,
    max_prefix: int = 4,
) -> DataFrame:
    """Jaro–Winkler name similarity over a CANDIDATE-PAIR frame — the
    scoring metric record linkage actually standardized on (typo'd
    surnames where edit distance is too coarse: 'MARTHA'/'MARHTA'
    score 0.961 vs a levenshtein of 2), completing the linkage tier:
    block with `fuzzy_join` / `sorted_neighborhood_pairs`, score with
    this + `record_linkage_score`, resolve with the hull.

    Pairs-in, pairs-out BY DESIGN (the record_linkage_score
    contract): blocking is the caller's job, so this never sees n² —
    the kernel is one Arrow-batched pandas UDF over the bounded pair
    frame (character-window matching is sequential per pair; not a
    column expression), the engine's documented slow-path class, and
    the EXACT integer contract makes it oracle-replayable: the score
    is `jw_core`'s rational arithmetic floored to ppm, so Spark and
    the pure-Python replay land identical integers (pinned).  NULL
    on either side scores NULL (no evidence, the F-S convention).
    """
    if not 0 <= prefix_scale_ppm * max_prefix <= 1_000_000:
        raise ValueError(
            "prefix_scale_ppm * max_prefix must stay within [0, 1e6] "
            "(else jw leaves [0, 1])"
        )
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ps, mp = int(prefix_scale_ppm), int(max_prefix)

    def _jw_fn(sa, sb):
        out = [
            None if x is None or y is None else jw_core(x, y, ps, mp)
            for x, y in zip(sa, sb)
        ]
        return pd.Series(out, dtype="Int64")

    # real class objects, not strings: this module's `from __future__
    # import annotations` would stringify inline hints, which the
    # pandas_udf signature inspection rejects
    _jw_fn.__annotations__ = {
        "sa": pd.Series, "sb": pd.Series, "return": pd.Series,
    }
    _jw = pandas_udf(_jw_fn, "long")

    return pairs.withColumn(out_col, _jw(F.col(col_a), F.col(col_b)))


def resolve_entities(
    df: DataFrame,
    id_col: str,
    name_col: str,
    field_weights: dict[str, tuple[float, float]] | None = None,
    max_dist: int = 2,
    q: int = 2,
    match_micro: int | None = None,
) -> DataFrame:
    """End-to-end entity resolution over ONE record table — the
    composition the engine's parts exist for, packaged: `fuzzy_join`
    blocks candidate pairs by name edit distance (never n²),
    `record_linkage_score` weighs the other fields (Fellegi–Sunter
    integer log-odds; skipped when `field_weights` is None — name
    distance alone decides), `connected_components` closes the
    transitive hull (A≈B≈C is ONE entity even when A and C differ by
    more than `max_dist`), and each cluster's MINIMUM id becomes the
    entity id.

    Output: the input rows + (entity_id, entity_size, is_canonical) —
    `is_canonical` marks the survivor row (the minimum id; swap in a
    quality-ranked survivor by re-ranking within entity_id, the
    dedup survivor-policy pattern).  Singletons keep their own id
    with entity_size 1; NULL names never match (they resolve to
    themselves).  Σ entity_size over canonical rows = row count — a
    DQ-pinnable totality invariant.

    When `field_weights` is given, `match_micro` is required: pairs
    below it are dropped BEFORE the hull closes (a 'possible' tier
    for clerical review is `record_linkage_score`'s three-way rule —
    run it separately; resolution needs a hard decision).

    Scale: candidate generation is fuzzy_join's vocabulary-priced
    lanes; scoring is per-pair column arithmetic; the hull is
    `connected_components` over the pair edges (min-label rounds, then
    star contraction), so a long chain of matches still closes in
    O(log n) rounds.  The failure mode to watch is a TOO-LOOSE blocker
    (high max_dist on short names) chaining everything into one
    mega-entity — check the entity_size distribution.  fuzzy_join's
    hot-gram probe runs one small eager job (a 1-row collect) at call
    time."""
    if (field_weights is None) != (match_micro is None):
        raise ValueError(
            "field_weights and match_micro come together: weights "
            "need a decision threshold, a threshold needs weights"
        )
    from .dedup import connected_components

    fields = sorted(field_weights) if field_weights else []
    for f in fields:
        if f == id_col or f == name_col:
            raise ValueError(
                f"scored field {f!r} collides with id/name column"
            )
    a = df.select(
        F.col(id_col).alias("_id_a"),
        F.col(name_col).alias("_nm_a"),
        *[F.col(f).alias(f"{f}_a") for f in fields],
    )
    b = df.select(
        F.col(id_col).alias("_id_b"),
        F.col(name_col).alias("_nm_b"),
        *[F.col(f).alias(f"{f}_b") for f in fields],
    )
    pairs = fuzzy_join(
        a, b, "_nm_a", "_nm_b", max_dist=max_dist, q=q
    ).filter(F.col("_id_a") < F.col("_id_b"))
    if field_weights:
        scored = record_linkage_score(pairs, field_weights)
        pairs = scored.filter(F.col("score_micro") >= int(match_micro))
    edges = pairs.select("_id_a", "_id_b")
    labels = connected_components(edges, "_id_a", "_id_b").select(
        F.col("id").alias("_rid"), F.col("cluster_id").alias("_eid")
    )
    out = df.join(
        labels, df[id_col] == labels["_rid"], "left_outer"
    ).select(
        *[df[c] for c in df.columns],
        F.coalesce(F.col("_eid"), df[id_col]).alias("entity_id"),
    )
    w = Window.partitionBy("entity_id")
    return (
        out.withColumn(
            "entity_size", F.count(F.lit(1)).over(w).cast("long")
        )
        .withColumn(
            "is_canonical",
            F.col(id_col) == F.min(id_col).over(w),
        )
    )
