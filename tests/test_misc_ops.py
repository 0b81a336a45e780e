"""Remaining operator coverage: A14 observe metrics, U5/U6 stubs,
alert-event shaping (S8), O5 across engines, keyset pagination."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.functions import text as textfn
from cdc_pipeline_with_kafka_spark.operators import relational
from cdc_pipeline_with_kafka_spark.sources import cdc
from cdc_pipeline_with_kafka_spark.streaming import pipeline, sinks

from .fixtures import make_articles, make_cdc_events


def test_observed_batch_metrics(spark):
    arts = make_articles(100)
    events = make_cdc_events(arts)
    raw = spark.createDataFrame(
        [(e["key"], e["value"], e["kafka_ts"]) for e in events],
        "key string, value string, kafka_ts string",
    )
    parsed = cdc.parse_envelope(raw)
    observed, obs = sinks.observed_batch(parsed)
    total = observed.count()  # action materializes the metrics
    m = obs.get
    assert m["n_events"] == total
    assert m["n_upserts"] + m["n_deletes"] == total
    assert m["n_errors"] == 0  # parse drops op-less rows before here


def test_sentiment_and_trend_stub_columns(spark):
    df = spark.createDataFrame([(["경제", "금리"],)], "keywords array<string>")
    row = df.select(
        textfn.sentiment_stub().alias("sentiment"),
        textfn.trend_score_stub(F.col("keywords")).alias("trends"),
    ).collect()[0]
    assert abs(row["sentiment"]["pos"] + row["sentiment"]["neg"] + row["sentiment"]["neu"] - 1.0) < 1e-9
    assert row["trends"] == {"경제": 0.5, "금리": 0.5}


def test_alert_events_kafka_shape(spark):
    from datetime import datetime

    trending = spark.createDataFrame(
        [(datetime(2024, 3, 1, 0, 0), datetime(2024, 3, 1, 0, 30), "태풍", 12)],
        "window_start timestamp, window_end timestamp, keyword string, cnt long",
    )
    out = pipeline.alert_events(trending).collect()[0]
    assert out["key"].startswith("trending_태풍")
    payload = json.loads(out["value"])
    assert payload["type"] == "trending" and payload["mentions"] == 12
    assert 0 < payload["severity"] <= 1


def test_keyset_pagination_no_overlap(spark):
    df = spark.range(100).select(F.col("id").alias("k"))
    page1 = relational.keyset_page(df, "k", last_seen=None, size=10)
    rows1 = [r["k"] for r in page1.collect()]
    page2 = relational.keyset_page(df, "k", last_seen=rows1[-1], size=10)
    rows2 = [r["k"] for r in page2.collect()]
    assert rows1 == list(range(10)) and rows2 == list(range(10, 20))


def test_kafka_sink_options_parity(spark):
    opts = sinks.kafka_sink_options("breaking-alerts")
    # producer parity with keyword_republisher.py:48-57
    assert opts["kafka.compression.type"] == "snappy"
    assert opts["kafka.acks"] == "all"
    assert opts["topic"] == "breaking-alerts"


def test_day_range_boundaries(spark):
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.functions import dates

    start, end = dates.day_range(F.lit("2024-05-01"), F.lit("2024-05-03"))
    row = spark.range(1).select(
        start.cast("string").alias("s"), end.cast("string").alias("e")
    ).first()
    assert row["s"] == "2024-05-01 00:00:00"
    assert row["e"] == "2024-05-03 23:59:59"


def test_table_cache_isolated_per_sf_dir(spark):
    from cdc_pipeline_with_kafka_spark.sources.tables import load_table

    a = load_table(spark, "lineitem", "/root/testdata/sf0.001")
    b = load_table(spark, "lineitem", "/root/testdata/sf0.01")
    assert a is not b
    assert a.count() != b.count()
    # same key returns the cached object (no re-read)
    assert load_table(spark, "lineitem", "/root/testdata/sf0.01") is b


def test_fixture_count_cache_isolated_per_sf_dir(spark):
    from cdc_pipeline_with_kafka_spark import queries as q

    n_small = q._table_count(spark, "/root/testdata/sf0.001", "lineitem")
    n_big = q._table_count(spark, "/root/testdata/sf0.01", "lineitem")
    assert n_small != n_big
    assert q._COUNT_CACHE[("/root/testdata/sf0.001", "lineitem")] == n_small


def test_interval_join_matches_naive_and_avoids_cartesian(spark):
    """interval_join must return exactly the naive range join's rows
    while planning an EQUI-join on buckets — the naive condition plans
    BroadcastNestedLoop, the operator must not."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    points = spark.range(0, 500).select(
        F.col("id").alias("pid"), ((F.col("id") * 37) % 1000).alias("v")
    )
    intervals = spark.range(0, 60).select(
        F.col("id").alias("iid"),
        ((F.col("id") * 53) % 900).alias("s"),
        (((F.col("id") * 53) % 900) + 5 + (F.col("id") % 40)).alias("e"),
    )
    got = relational.interval_join(points, intervals, "v", "s", "e", bucket_width=32)
    naive = points.join(
        intervals, (F.col("v") >= F.col("s")) & (F.col("v") < F.col("e"))
    )
    assert sorted(map(tuple, got.select("pid", "iid").collect())) == sorted(
        map(tuple, naive.select("pid", "iid").collect())
    )
    assert got.count() > 0  # non-vacuous
    gplan = got._jdf.queryExecution().executedPlan().toString()
    nplan = naive._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in gplan and "Cartesian" not in gplan
    assert "BroadcastNestedLoop" in nplan or "Cartesian" in nplan


def test_interval_join_boundaries_half_open(spark):
    from cdc_pipeline_with_kafka_spark.operators import relational

    points = spark.createDataFrame(
        [(0, 10), (1, 19), (2, 20), (3, 9)], "pid long, v long"
    )
    intervals = spark.createDataFrame([(0, 10, 20)], "iid long, s long, e long")
    got = {
        r["pid"]
        for r in relational.interval_join(
            points, intervals, "v", "s", "e", bucket_width=7
        ).collect()
    }
    assert got == {0, 1}  # start inclusive, end exclusive


def test_interval_join_width_sweep_always_matches_naive(spark):
    """Bucket width is a pure cost knob — results must be identical to
    the naive range join at degenerate (1), boundary-straddling, and
    everything-in-one-bucket (1000) widths."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    points = spark.range(0, 200).select(
        F.col("id").alias("pid"), ((F.col("id") * 13) % 97).alias("v")
    )
    intervals = spark.range(0, 25).select(
        F.col("id").alias("iid"),
        ((F.col("id") * 11) % 80).alias("s"),
        (((F.col("id") * 11) % 80) + 1 + (F.col("id") % 13)).alias("e"),
    )
    naive = sorted(
        map(tuple, points.join(
            intervals, (F.col("v") >= F.col("s")) & (F.col("v") < F.col("e"))
        ).select("pid", "iid").collect())
    )
    assert naive  # non-vacuous
    for width in (1, 3, 7, 64, 1000):
        got = sorted(
            map(tuple, relational.interval_join(
                points, intervals, "v", "s", "e", bucket_width=width
            ).select("pid", "iid").collect())
        )
        assert got == naive, f"width={width}"


def test_interval_join_auto_skewed_widths_and_sentinel_clamp(spark):
    """interval_join_auto sizes bucket_width from the interval-length
    distribution (GK quantile) and CLAMPS sentinel/open-ended
    intervals to the point domain before bucketing — a year-9999 end
    must neither distort the width estimate nor explode into an
    astronomical bucket sequence, and results must equal the naive
    range join exactly."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    points = spark.range(0, 400).select(
        F.col("id").alias("pid"), ((F.col("id") * 37) % 1000).alias("v")
    )
    # skewed lengths: most intervals ~10 long, a few ~300, one
    # open-ended sentinel (end = 10^15) and one starting below the
    # domain (start = -10^15)
    rows = [(i, (i * 53) % 900, (i * 53) % 900 + 10 + (i % 5)) for i in range(50)]
    rows += [(100 + i, (i * 131) % 600, (i * 131) % 600 + 300) for i in range(4)]
    rows.append((200, 500, 10**15))          # sentinel end
    rows.append((201, -(10**15), 50))        # sentinel start
    intervals = spark.createDataFrame(rows, "iid long, s long, e long")

    width, lo, hi = relational._auto_interval_params(
        points, intervals, "v", "s", "e"
    )
    # the median CLAMPED length is ~10-15: sentinel rows (clamped to
    # the ~1000-wide domain) cannot drag the median to domain scale
    assert 1 <= width <= 40, width
    assert lo == 0.0 and hi == 999.0

    got = relational.interval_join_auto(points, intervals, "v", "s", "e")
    naive = points.join(
        intervals, (F.col("v") >= F.col("s")) & (F.col("v") < F.col("e"))
    )
    assert sorted(map(tuple, got.select("pid", "iid").collect())) == sorted(
        map(tuple, naive.select("pid", "iid").collect())
    )
    # sentinel rows DO match points (clamp must not lose them)
    iids = {r["iid"] for r in got.select("iid").distinct().collect()}
    assert 200 in iids and 201 in iids
    # output rows carry the CALLER'S original bounds and types: the
    # clamp is internal-only — a sentinel end reads back verbatim,
    # ints stay ints, and the schema equals interval_join's
    assert dict(got.dtypes)["s"] == "bigint" and dict(got.dtypes)["e"] == "bigint"
    sent = got.filter(F.col("iid") == 200).select("s", "e").first()
    raw = intervals.filter(F.col("iid") == 200).select("s", "e").first()
    assert (sent["s"], sent["e"]) == (raw["s"], raw["e"])
    assert set(got.columns) == set(points.columns) | set(intervals.columns)


def test_interval_join_auto_empty_points_never_explodes(spark):
    """Empty points: the result is empty WITHOUT evaluating the
    interval explode (a sentinel interval would otherwise generate a
    10^15-element sequence even though the join output is empty)."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    points = spark.createDataFrame([], "pid long, v long")
    intervals = spark.createDataFrame(
        [(0, 0, 10**15)], "iid long, s long, e long"
    )
    out = relational.interval_join_auto(points, intervals, "v", "s", "e")
    assert out.count() == 0


def test_interval_overlap_join_matches_naive_exactly_once(spark):
    """Overlap semantics match the naive strict-inequality range join,
    each pair emitted EXACTLY once (the first-shared-bucket trick, no
    distinct), across bucket widths; zero-length intervals follow the
    strict formula; ambiguous columns rejected."""
    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators import relational

    a = spark.range(0, 60).select(
        F.col("id").alias("a_key"),
        ((F.col("id") * 53) % 500).alias("a_s"),
        (((F.col("id") * 53) % 500) + 5 + (F.col("id") % 30)).alias("a_e"),
    )
    b = spark.range(0, 50).select(
        F.col("id").alias("b_key"),
        ((F.col("id") * 37) % 500).alias("b_s"),
        (((F.col("id") * 37) % 500) + 1 + (F.col("id") % 15)).alias("b_e"),
    )
    naive = sorted(
        map(
            tuple,
            a.join(
                b, (F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e"))
            ).select("a_key", "b_key").collect(),
        )
    )
    for width in (1, 7, 64, 1000):
        got = relational.interval_overlap_join(
            a, b, ("a_s", "a_e"), ("b_s", "b_e"), bucket_width=width
        ).select("a_key", "b_key").collect()
        got_list = sorted(map(tuple, got))
        assert got_list == naive, width  # duplicates would break ==
    # plan shape: equi-join on buckets, never a nested loop
    shaped = relational.interval_overlap_join(
        a, b, ("a_s", "a_e"), ("b_s", "b_e"), bucket_width=7
    )
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    # zero-length interval at 10 'overlaps' [5, 20) strictly
    pa = spark.createDataFrame([(1, 10, 10)], "a_key long, a_s long, a_e long")
    pb = spark.createDataFrame([(2, 5, 20)], "b_key long, b_s long, b_e long")
    assert relational.interval_overlap_join(
        pa, pb, ("a_s", "a_e"), ("b_s", "b_e"), 4
    ).count() == 1
    with _pt.raises(ValueError, match="ambiguous"):
        relational.interval_overlap_join(
            a, a, ("a_s", "a_e"), ("a_s", "a_e"), 4
        )


def test_snapshot_diff_insert_update_delete(spark):
    """Set-oriented CDC reconciliation: inserts/deletes by key
    presence, updates by NULL-safe column drift (NULL->value and
    value->NULL both count), unchanged rows dropped."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 21), (3, "c", 30), (5, "e", 50)],
        "k long, s string, v long",
    )
    out = {
        r["k"]: r
        for r in relational.snapshot_diff(old, new, ["k"]).collect()
    }
    assert out[2]["change"] == "update" and out[2]["n_changed_cols"] == 2
    assert out[3]["change"] == "update" and out[3]["n_changed_cols"] == 1  # NULL->30
    assert out[4]["change"] == "delete" and out[4]["n_changed_cols"] == 0
    assert out[5]["change"] == "insert" and out[5]["n_changed_cols"] == 0
    assert 1 not in out  # unchanged row dropped
    # compare_cols subset: ignoring v, key 3 is unchanged
    sub = {
        r["k"]: r["change"]
        for r in relational.snapshot_diff(old, new, ["k"], ["s"]).collect()
    }
    assert 3 not in sub and sub[2] == "update"


def test_scd2_history_intervals_and_deletes(spark):
    """Type-2 history: half-open validity intervals per key version,
    NULL effective_to marks current, a delete closes the prior version
    without emitting a row, tiebreak column orders same-ts changes."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    changes = spark.createDataFrame(
        [
            (1, 10, 0, "c", "v1"), (1, 20, 1, "u", "v2"), (1, 30, 2, "u", "v3"),
            (2, 10, 3, "c", "x1"), (2, 25, 4, "d", None),
            (3, 10, 5, "c", "y1"), (3, 10, 6, "u", "y2"),  # same ts, offset tiebreak
        ],
        "k long, ts long, off long, op string, val string",
    )
    rows = relational.scd2_history(
        changes, ["k"], ["ts", "off"], ["val"], op_col="op"
    ).collect()
    by = {(r["k"], r["val"]): r for r in rows}
    assert by[(1, "v1")]["effective_from"] == 10
    assert by[(1, "v1")]["effective_to"] == 20
    assert by[(1, "v3")]["effective_to"] is None and by[(1, "v3")]["is_current"]
    # deleted key: the delete row closed x1 and emitted nothing
    assert by[(2, "x1")]["effective_to"] == 25
    assert not any(r["k"] == 2 and r["is_current"] for r in rows)
    # same-ts versions ordered by the offset tiebreak
    assert by[(3, "y1")]["effective_to"] == 10 and by[(3, "y2")]["is_current"]
    assert len(rows) == 6  # the delete itself emitted no interval


def test_snapshot_diff_patch_round_trip(spark):
    """include_values=True makes the diff an applicable patch: delete
    the 'delete' keys, upsert the insert/update rows, reconstruct the
    new snapshot EXACTLY — on a randomized version pair."""
    import numpy as np

    from cdc_pipeline_with_kafka_spark.operators import relational

    rng = np.random.default_rng(61)
    old_rows = [(int(k), f"s{rng.integers(0, 5)}", float(rng.integers(0, 50)))
                for k in range(200) if k % 9 != 0]
    new_rows = [(int(k), f"s{rng.integers(0, 5)}", float(rng.integers(0, 50)))
                for k in range(210) if k % 6 != 0]
    old = spark.createDataFrame(old_rows, "k long, s string, v double")
    new = spark.createDataFrame(new_rows, "k long, s string, v double")
    patch = relational.snapshot_diff(old, new, ["k"], include_values=True)
    rows = patch.collect()
    deletes = {r["k"] for r in rows if r["change"] == "delete"}
    upserts = {r["k"]: (r["s"], r["v"]) for r in rows if r["change"] != "delete"}
    state = {k: (s, v) for k, s, v in old_rows if k not in deletes}
    state.update(upserts)
    assert state == {k: (s, v) for k, s, v in new_rows}
    # diff(x, x) is empty — the fixed-point property
    assert relational.snapshot_diff(new, new, ["k"]).count() == 0


def test_join_skew_report_products_and_share(spark):
    """Per-key multiplicity products, exact integer output share, and
    the TakeOrdered top-k plan (never a global sort)."""
    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import relational

    left = spark.createDataFrame(
        [(1,)] * 6 + [(2,)] * 2 + [(3,)] * 1, "k long"
    )
    right = spark.createDataFrame([(1,)] * 5 + [(2,)] * 3, "k long")
    out = {r["k"]: r for r in relational.join_skew_report(left, right, "k").collect()}
    assert 3 not in out  # inner: no right rows -> no output rows
    assert (out[1]["l_cnt"], out[1]["r_cnt"], out[1]["out_rows"]) == (6, 5, 30)
    assert out[2]["out_rows"] == 6
    assert out[1]["share_ppm"] == (30 * 1_000_000) // 36
    assert out[2]["share_ppm"] == (6 * 1_000_000) // 36
    # the real join's output rows equal the report's products
    assert left.join(right, "k").count() == 36
    assert plans.has_take_ordered(relational.join_skew_report(left, right, "k"))


def test_sessionize_gap_semantics_and_ties(spark):
    """New session exactly when the gap EXCEEDS the threshold (a gap
    of exactly 30 min stays in-session), per-key ordinals restart at
    1, ts ties break deterministically by the order column."""
    from cdc_pipeline_with_kafka_spark.operators import windows

    t0 = "2024-01-01 00:00:00"
    rows = [
        # user 1: 0m, +10m (same), +40m -> gap 30m exactly = same,
        # +71m -> gap 31m = NEW, tie at +71m (event 5 after 4)
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:10:00"),
        (3, 1, "2024-01-01 00:40:00"),
        (4, 1, "2024-01-01 01:11:00"),
        (5, 1, "2024-01-01 01:11:00"),
        # user 2: single event
        (6, 2, "2024-01-01 05:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = {r["event_id"]: r["session_id"] for r in windows.sessionize(
        df, ["user_id"], "ts", 30, ["event_id"]).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 1}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        windows.sessionize(df, ["user_id"], "ts", 0)


def test_cusum_changepoints_matches_recursion(spark):
    """The window closed form equals the textbook max(0, s+d)
    recursion replayed in pure Python, and a planted persistent level
    shift fires flag_up while the stable prefix stays silent."""
    from cdc_pipeline_with_kafka_spark.operators import trends

    series = [10, 10, 11, 9, 10, 10, 20, 21, 20, 22, 20, 21]
    rows = [("m", i, float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "key string, t long, v double")
    out = trends.cusum_changepoints(
        df, ["key"], "t", "v", h_micro=20_000_000
    ).orderBy("t").collect()

    # pure-Python replay of the exact integer contract
    xs = [int(v) * 1_000_000 for v in series]
    mu = sum(xs) // len(xs)
    sp = sm = 0
    expect = []
    for x in xs:
        sp = max(0, sp + x - mu)
        sm = max(0, sm + mu - x)
        expect.append((sp, sm))
    got = [(r["s_plus_micro"], r["s_minus_micro"]) for r in out]
    assert got == expect
    assert all(r["mu_micro"] == mu for r in out)
    # upward CUSUM: silent through the low prefix (x < mu keeps
    # s_plus clamped at 0), fires inside the shifted segment
    assert not any(r["flag_up"] for r in out[:6])
    assert any(r["flag_up"] for r in out[6:])
    # downward CUSUM accumulated over the low prefix (textbook: with a
    # mid-way mean both sides see a shift) but DECAYS to exactly 0 in
    # the high segment — the max(0, ...) clamp at work
    assert out[-1]["s_minus_micro"] == 0 and not out[-1]["flag_down"]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        trends.cusum_changepoints(df, ["key"], "t", "v", h_micro=0)
    # pinned reference level: mu_micro respected
    pinned = trends.cusum_changepoints(
        df, ["key"], "t", "v", h_micro=1, mu_micro=10_000_000
    ).orderBy("t").collect()
    assert all(r["mu_micro"] == 10_000_000 for r in pinned)


def test_sessionize_consistent_with_session_window_counts(spark):
    """Cross-operator invariant: the number of distinct session ids
    sessionize assigns per user equals the number of session windows
    Spark's native session_window aggregation produces at the same
    gap, and each session's row count matches."""
    from cdc_pipeline_with_kafka_spark.operators import windows
    from cdc_pipeline_with_kafka_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "event_id", "ts"
    )
    gap_min = 30
    sess = windows.sessionize(ev, ["user_id"], "ts", gap_min, ["event_id"])
    mine = {
        (r["user_id"], r["n"]): r["cnt"]
        for r in sess.groupBy("user_id", F.col("session_id").alias("n"))
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    native = windows.session_window_counts(
        ev, "ts", "user_id", gap=f"{gap_min} minutes"
    ).collect()
    per_user_native = {}
    for r in native:
        per_user_native.setdefault(r["user_id"], []).append(
            (r["session_start"], r["cnt"])
        )
    for uid, wins in per_user_native.items():
        wins.sort()
        for i, (_, cnt) in enumerate(wins, start=1):
            assert mine[(uid, i)] == cnt, (uid, i)
    assert sum(cnt for _, cnt in
               ((w, c) for ws in per_user_native.values() for w, c in ws)
               ) == ev.count()


def test_cohort_retention_hand_computed(spark):
    """Planted cohorts: day-0 rows are the cohort sizes at exactly
    1e6 ppm, later offsets count distinct returning users, multiple
    same-day events collapse."""
    from cdc_pipeline_with_kafka_spark.operators import windows

    rows = [
        # cohort 2024-01-01: users 1,2,3; user1 returns d1+d2,
        # user2 returns d2 (twice that day), user3 never returns
        (1, "2024-01-01 09:00:00"), (1, "2024-01-02 10:00:00"),
        (1, "2024-01-03 08:00:00"),
        (2, "2024-01-01 11:00:00"), (2, "2024-01-03 07:00:00"),
        (2, "2024-01-03 23:00:00"),
        (3, "2024-01-01 05:00:00"),
        # cohort 2024-01-02: user 4
        (4, "2024-01-02 12:00:00"), (4, "2024-01-03 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    out = {(str(r["cohort_day"])[:10], r["offset_days"]):
           (r["n_active"], r["n_cohort"], r["retention_ppm"])
           for r in windows.cohort_retention(df, ["user_id"], "ts").collect()}
    assert out[("2024-01-01", 0)] == (3, 3, 1_000_000)
    assert out[("2024-01-01", 1)] == (1, 3, 333_333)
    assert out[("2024-01-01", 2)] == (2, 3, 666_666)
    assert out[("2024-01-02", 0)] == (1, 1, 1_000_000)
    assert out[("2024-01-02", 1)] == (1, 1, 1_000_000)
    assert len(out) == 5


def test_pivot_counts_schema_contract_and_fill(spark):
    """Pinned columns in the given order, zero-filled empty cells,
    out-of-list values counted nowhere, single-aggregate plan."""
    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import windows

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"), ("b", "zzz")]
    df = spark.createDataFrame(rows, "g string, c string")
    out = windows.pivot_counts(df, ["g"], "c", ["x", "y"])
    assert out.columns == ["g", "x", "y"]
    got = {r["g"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"a": (2, 1), "b": (0, 1)}  # 'zzz' counts nowhere
    # one aggregate, no join, no second distinct-discovery job
    plan = plans.formatted_plan(out)
    assert "Join" not in plan
    assert plans.has_partial_aggregation(out)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        windows.pivot_counts(df, ["g"], "c", [])


def test_scd2_history_null_op_is_ordinary_change(spark):
    """A NULL op (malformed change event) must NOT vanish from the
    history: `~op.isin(deletes)` is NULL for NULL ops and a bare
    filter would drop the row silently.  NULL ops are kept as
    ordinary changes (r9 ADVICE closure)."""
    changes = spark.createDataFrame(
        [
            (1, 10, "c", "v1"),
            (1, 20, None, "v2"),   # malformed op: still a version
            (1, 30, "u", "v3"),
            (2, 10, None, "x1"),   # a key seen ONLY via a NULL op
        ],
        "k long, ts long, op string, val string",
    )
    rows = relational.scd2_history(
        changes, ["k"], ["ts"], ["val"], op_col="op"
    ).collect()
    by = {(r["k"], r["val"]): r for r in rows}
    assert len(rows) == 4
    assert by[(1, "v2")]["effective_from"] == 20
    assert by[(1, "v2")]["effective_to"] == 30
    assert by[(2, "x1")]["is_current"]


def test_cusum_negative_series_sign_safe_mu(spark):
    """Default mu on a NEGATIVE-sum series: sign-safe exact division
    (truncation toward zero on every engine) — Spark's `div`
    truncates while DuckDB's `//` floors, so the naive sum div n
    diverges cross-engine exactly when the sum is negative (r9
    ADVICE closure).  The pure-Python trunc replay is the contract."""
    import duckdb

    from cdc_pipeline_with_kafka_spark.operators import trends

    series = [-10, -11, -9, -10, -3, -2, -4, -3]
    rows = [("m", i, float(v)) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "key string, t long, v double")
    out = trends.cusum_changepoints(
        df, ["key"], "t", "v", h_micro=1_000_000
    ).orderBy("t").collect()

    xs = [int(v) * 1_000_000 for v in series]
    s = sum(xs)
    mu = -((-s) // len(xs)) if s < 0 else s // len(xs)  # trunc to zero
    assert all(r["mu_micro"] == mu for r in out)
    # the documented replay SQL (floor-division engine) agrees
    duck_mu = duckdb.sql(
        f"SELECT CASE WHEN ({s}) >= 0 THEN ({s}) // {len(xs)} "
        f"ELSE -(({abs(s)}) // {len(xs)}) END"
    ).fetchone()[0]
    assert int(duck_mu) == mu
    # statistics still satisfy the recursion under the trunc mu
    sp = sm = 0
    expect = []
    for x in xs:
        sp = max(0, sp + x - mu)
        sm = max(0, sm + mu - x)
        expect.append((sp, sm))
    assert [(r["s_plus_micro"], r["s_minus_micro"]) for r in out] == expect


def test_ohlc_bars_semantics_and_plan(spark):
    """OHLC downsampling: open/close pinned by (ts, tiebreak) struct
    extrema (deterministic under ts ties), high/low/count/sum plain
    aggregates, NULL values excluded — and the plan is ONE partial-
    aggregated groupBy with no window/sort/join."""
    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import windows

    rows = [
        # key a, hour 10: open=5 (earliest), close=7 (tie at :50 ->
        # higher event_id 6 wins), high=9, low=2
        (1, "a", "2024-01-01 10:00:00", 5.0),
        (2, "a", "2024-01-01 10:10:00", 9.0),
        (3, "a", "2024-01-01 10:20:00", 2.0),
        (5, "a", "2024-01-01 10:50:00", 4.0),
        (6, "a", "2024-01-01 10:50:00", 7.0),   # ts tie: id 6 is close
        (7, "a", "2024-01-01 11:05:00", 1.0),   # next bar
        (8, "b", "2024-01-01 10:30:00", 3.0),
        (9, "b", "2024-01-01 10:31:00", None),  # NULL excluded
    ]
    df = spark.createDataFrame(
        rows, "event_id long, k string, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    bars = windows.ohlc_bars(df, ["k"], "ts", "v", "hour", "event_id")
    out = {
        (r["k"], str(r["bucket_start"])[:13]): r for r in bars.collect()
    }
    a10 = out[("a", "2024-01-01 10")]
    assert (a10["open"], a10["high"], a10["low"], a10["close"]) == (
        5.0, 9.0, 2.0, 7.0
    )
    assert (a10["n_rows"], a10["sum_value"]) == (5, 27.0)
    assert out[("a", "2024-01-01 11")]["open"] == 1.0
    b10 = out[("b", "2024-01-01 10")]
    assert (b10["open"], b10["close"], b10["n_rows"]) == (3.0, 3.0, 1)
    plan = plans.formatted_plan(bars)
    assert "Window" not in plan and "Join" not in plan
    # the decimal-packed min_by/max_by key keeps the aggregate
    # hash-based — a struct ordering key would plan SortAggregate
    # (an in-partition sort of the raw stream)
    assert "SortAggregate" not in plan and "HashAggregate" in plan
    assert plans.has_partial_aggregation(bars)


def test_merkle_summary_diff_and_scoped_repair(spark):
    """Anti-entropy at scale: equal tables produce an EMPTY merkle
    diff; planted drift (update / delete / insert) surfaces exactly
    the drifted keys' buckets; and snapshot_diff restricted to the
    divergent buckets equals the FULL snapshot_diff — the
    bucket-scoped repair loop."""
    from cdc_pipeline_with_kafka_spark.operators import relational

    rows = [(k, f"s{k % 4}", k * 100) for k in range(1, 201)]
    a = spark.createDataFrame(rows, "id long, s string, cents long")
    drift = (
        [(k, ("DRIFT" if k == 17 else s), c) for k, s, c in rows if k != 50]
        + [(999, "new", 0)]
    )
    b = spark.createDataFrame(drift, "id long, s string, cents long")

    sa, sb = (
        relational.merkle_summary(t, ["id"], ["s", "cents"], n_buckets=32)
        for t in (a, b)
    )
    assert relational.merkle_diff(sa, sa).count() == 0  # a == a
    div = relational.merkle_diff(sa, sb).collect()
    got_buckets = {r["bucket"] for r in div}
    # the drifted keys' buckets (id-hash mod 32) must all surface
    hot = {
        r["bucket"]
        for r in relational.merkle_summary(
            spark.createDataFrame(
                [(17, "x", 0), (50, "x", 0), (999, "x", 0)],
                "id long, s string, cents long",
            ),
            ["id"], ["s"], n_buckets=32,
        ).collect()
    }
    assert hot <= got_buckets and len(got_buckets) <= len(hot)

    # bucket-scoped snapshot_diff == full snapshot_diff: the repair
    # loop reads only divergent buckets' rows
    bucket_of = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.coalesce(F.col("id").cast("string"), F.lit("\x1e"))),
                1, 13,
            ), 16, 10,
        ).cast("long"),
        F.lit(32),
    ).cast("int")
    blist = sorted(got_buckets)
    scoped = relational.snapshot_diff(
        a.filter(bucket_of.isin(blist)), b.filter(bucket_of.isin(blist)),
        ["id"],
    )
    full = relational.snapshot_diff(a, b, ["id"])
    assert sorted(map(tuple, scoped.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert full.count() == 3


def test_scd2_as_of_point_in_time_read(spark):
    """As-of read over an SCD2 history: half-open interval semantics
    (a version closed AT t is not visible AT t), deleted keys absent,
    pre-history instant empty, is_current dropped."""
    changes = spark.createDataFrame(
        [
            (1, 10, "c", "a1"), (1, 20, "u", "a2"), (1, 30, "u", "a3"),
            (2, 10, "c", "x1"), (2, 25, "d", None),
            (3, 15, "c", "y1"),
        ],
        "k long, ts long, op string, val string",
    )
    hist = relational.scd2_history(changes, ["k"], ["ts"], ["val"], op_col="op")
    at25 = {r["k"]: r["val"] for r in relational.scd2_as_of(hist, 25).collect()}
    assert at25 == {1: "a2", 3: "y1"}  # k2's interval closed AT 25
    at24 = {r["k"]: r["val"] for r in relational.scd2_as_of(hist, 24).collect()}
    assert at24 == {1: "a2", 2: "x1", 3: "y1"}
    assert relational.scd2_as_of(hist, 5).count() == 0
    at99 = {r["k"]: r["val"] for r in relational.scd2_as_of(hist, 99).collect()}
    assert at99 == {1: "a3", 3: "y1"}
    assert "is_current" not in relational.scd2_as_of(hist, 25).columns


def test_cooccurrence_pairs_support_and_lift(spark):
    """Exact basket-pair support + integer-ppm lift, per-basket
    distinct semantics (duplicate item rows count once), min_pairs
    pruning, and the mega-basket cap."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    rows = [
        (1, "x"), (1, "y"), (1, "y"),   # dup y counts once
        (2, "x"), (2, "y"),
        (3, "x"), (3, "z"),
        (4, "y"),
    ]
    df = spark.createDataFrame(rows, "b long, it string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in curation.cooccurrence_pairs(df, "b", "it").collect()
    }
    assert out[("x", "y")]["n_ab"] == 2
    assert (out[("x", "y")]["n_a"], out[("x", "y")]["n_b"]) == (3, 3)
    assert out[("x", "y")]["lift_ppm"] == (4 * 2 * 1_000_000) // 9
    assert out[("x", "z")]["lift_ppm"] == (4 * 1 * 1_000_000) // 3
    pruned = {
        (r["item_a"], r["item_b"])
        for r in curation.cooccurrence_pairs(df, "b", "it", min_pairs=2).collect()
    }
    assert pruned == {("x", "y")}
    capped = curation.cooccurrence_pairs(
        df, "b", "it", max_basket_items=1
    )
    assert capped.count() == 0  # every pair-bearing basket dropped


def test_cooccurrence_pairs_cap_uses_one_basket_universe(spark):
    """Under max_basket_items, n_ab, n_a/n_b AND n_baskets must all
    count over the SAME capped universe (the association_rules
    contract): a dropped mega-basket containing item x must not
    inflate x's marginal or the basket total.  Capped run ≡ running
    uncapped on the manually pre-filtered frame."""
    from cdc_pipeline_with_kafka_spark.operators import curation

    rows = (
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "y")]
        + [(4, "x")] + [(4, f"m{i}") for i in range(5)]  # mega, size 6
    )
    df = spark.createDataFrame(rows, "b long, it string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in curation.cooccurrence_pairs(
            df, "b", "it", max_basket_items=3
        ).collect()
        if (r["item_a"], r["item_b"]) == ("x", "y")
    }[("x", "y")]
    # capped universe: baskets {1,2,3} → n_ab=2, n_a=2, n_b=3,
    # n_baskets=3 → lift exactly 1e6 (independence); the pre-fix
    # mixed-universe answer was 888,888 (n_a=3 with the mega basket,
    # n_baskets=4)
    assert (got["n_ab"], got["n_a"], got["n_b"]) == (2, 2, 3)
    assert got["lift_ppm"] == 1_000_000
    # parity: capped ≡ uncapped over the manually filtered frame
    manual = spark.createDataFrame(
        [r for r in rows if r[0] != 4], "b long, it string"
    )
    want = sorted(
        map(tuple, curation.cooccurrence_pairs(manual, "b", "it").collect())
    )
    have = sorted(
        map(tuple, curation.cooccurrence_pairs(
            df, "b", "it", max_basket_items=3
        ).collect())
    )
    assert have == want


def test_gains_table_exact_cumulative_and_totals(spark):
    """Decile gains: value-cut banding (no global window), exact
    integer cum/gain/lift, total accounting of NULL rows, tie mass
    sharing one band."""
    from cdc_pipeline_with_kafka_spark.operators import classify

    # 20 valid rows, scores 20..1; positives at scores 20,19,18,3
    rows = [(float(s), s >= 18 or s == 3) for s in range(20, 0, -1)]
    rows += [(None, True), (5.0, None)]          # excluded, counted
    df = spark.createDataFrame(rows, "sc double, y boolean")
    out = {r["band"]: r for r in classify.gains_table(df, "sc", "y", 10).collect()}
    assert all(r["n_excluded"] == 2 for r in out.values())
    assert out[1]["n"] == 2 and out[1]["n_pos"] == 2       # scores 20,19
    assert out[2]["n_pos"] == 1                            # score 18
    assert out[2]["cum_pos"] == 3 and out[2]["cum_n"] == 4
    assert out[2]["gain_ppm"] == (3 * 1_000_000) // 4      # 3 of 4 pos
    # lift at band 2: (3/4) / (4/20) share
    assert out[2]["lift_ppm"] == (3 * 20 * 1_000_000) // (4 * 4)
    assert out[10]["cum_n"] == 20 and out[10]["cum_pos"] == 4
    assert out[10]["gain_ppm"] == 1_000_000 and out[10]["lift_ppm"] == 1_000_000
    assert sum(r["n"] for r in out.values()) == 20

    # ties: every score identical -> ALL rows land in band 1
    tied = spark.createDataFrame(
        [(7.0, i % 3 == 0) for i in range(12)], "sc double, y boolean"
    )
    tout = {r["band"]: r for r in classify.gains_table(tied, "sc", "y", 4).collect()}
    assert list(tout) == [1] and tout[1]["n"] == 12

    import pytest as _pytest
    with _pytest.raises(ValueError):
        classify.gains_table(df, "sc", "y", 1)


# ------------------------------------------------------------ schema_diff

def test_schema_diff_all_drift_classes(spark):
    from cdc_pipeline_with_kafka_spark.operators.relational import schema_diff
    old = spark.createDataFrame(
        [(1, "a", 1.0, (1, "x"))],
        "id long, gone string, v double, props struct<a:int, b:string>")
    new = spark.createDataFrame(
        [(1, 1, (2.0, "x"), "n")],
        "id long, v int, props struct<a:double, b:string>, fresh string")
    out = {r["column"]: r for r in schema_diff(old, new).collect()}
    assert out["gone"]["status"] == "removed"
    assert out["fresh"]["status"] == "added"
    assert out["v"]["status"] == "type_changed"
    assert out["v"]["old_type"] == "double" and out["v"]["new_type"] == "int"
    # nested path surfaces with its dotted name
    assert out["props.a"]["status"] == "type_changed"
    assert "props.b" not in out  # unchanged nested field is silent
    # props itself changed type (its struct string differs)
    assert out["props"]["status"] == "type_changed"


def test_schema_diff_identical_and_order_insensitive(spark):
    from cdc_pipeline_with_kafka_spark.operators.relational import schema_diff
    a = spark.createDataFrame([(1, "x")], "id long, s string")
    b = spark.createDataFrame([("x", 1)], "s string, id long")
    assert schema_diff(a, b).count() == 0


# ----------------------------------------------------- k_anonymity_report

def test_k_anonymity_classes_and_total(spark):
    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        k_anonymity_report,
    )
    rows = ([("10001", "1980", "M", "flu")] * 5
            + [("10002", "1990", "F", "cold")] * 2     # k-violating
            + [("10003", None, "M", "flu")] * 6)       # l-violating (1 val)
    df = spark.createDataFrame(rows, "zip string, yob string, g string, dx string")
    out = k_anonymity_report(df, ["zip", "yob"], k=3,
                             sensitive_col="dx", l_distinct=2)
    rowsd = {r["class_kind"] + ":" + r["quasi_values"]: r
             for r in out.collect()}
    small = rowsd["class:10002|1990"]
    assert small["k_violation"] and small["n_rows"] == 2
    assert small["l_violation"]  # 2 rows, both 'cold' → 1 distinct
    nullc = rowsd["class:10003|∅"]  # NULL is its own class
    assert (not nullc["k_violation"]) and nullc["l_violation"]
    assert nullc["n_sensitive_distinct"] == 1
    # the safe class emits NO row; first class is l-violating too
    big = rowsd["class:10001|1980"]
    assert big["l_violation"] and not big["k_violation"]
    tot = rowsd[[k for k in rowsd if k.startswith("TOTAL")][0]]
    assert tot["n_rows"] == 13
    classes, kppm, lppm = tot["quasi_values"].split("|")
    assert classes == "3"
    assert kppm == str(2 * 1_000_000 // 13)
    assert lppm == "1000000"  # every class is single-diagnosis here


def test_k_anonymity_guards(spark):
    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        k_anonymity_report,
    )
    df = spark.createDataFrame([("a",)], "q string")
    import pytest as _pt
    with _pt.raises(ValueError):
        k_anonymity_report(df, [], k=3)
    with _pt.raises(ValueError, match="together"):
        k_anonymity_report(df, ["q"], k=3, sensitive_col="q")


def test_fuzzy_join_matches_builtin_levenshtein_oracle(spark):
    """Randomized parity: fuzzy_join (q-gram count filter + short
    length-band lane + capped verify) returns EXACTLY the pairs the
    builtin levenshtein admits — both lanes exercised (lengths 0-9
    straddle the |G| <= d*q short-lane cut for every (d, q) here)."""
    import itertools
    import random

    rng = random.Random(1234)
    alpha = "abcde"

    def mk(n):
        return [
            "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
            for _ in range(n)
        ]

    for d, q in [(0, 2), (1, 1), (2, 2), (3, 3)]:
        A, B = mk(25) + [None], mk(25) + [None]
        L = spark.createDataFrame(
            list(enumerate(A)), "lid int, name string"
        )
        R = spark.createDataFrame(
            list(enumerate(B)), "rid int, rname string"
        )
        got = sorted(
            (r.lid, r.rid, r.dist)
            for r in relational.fuzzy_join(
                L, R, "name", "rname", max_dist=d, q=q
            ).collect()
        )
        oracle = sorted(
            (r.lid, r.rid, r.d)
            for r in L.crossJoin(R)
            .filter(F.col("name").isNotNull() & F.col("rname").isNotNull())
            .select(
                "lid", "rid", F.levenshtein("name", "rname").alias("d")
            )
            .filter(F.col("d") <= d)
            .collect()
        )
        assert got == oracle, (d, q)


def test_fuzzy_join_plan_and_guards(spark):
    """No nested-loop/cartesian join anywhere in the plan (the whole
    point vs a crossJoin+levenshtein filter), and argument guards."""
    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.util import assert_plan

    L = spark.createDataFrame([(1, "abc"), (2, "zzzz")], "lid int, name string")
    R = spark.createDataFrame([(10, "abd"), (11, "zz")], "rid int, rname string")
    out = relational.fuzzy_join(L, R, "name", "rname", max_dist=2, q=2)
    facts = assert_plan(out, nested_loop_joins=0, single_partition_exchanges=0)
    assert "Cartesian" not in facts["plan"]
    assert sorted((r.lid, r.rid, r.dist) for r in out.collect()) == [
        (1, 10, 1),
        (2, 11, 2),
    ]
    with _pt.raises(ValueError, match="max_dist"):
        relational.fuzzy_join(L, R, "name", "rname", max_dist=-1)
    with _pt.raises(ValueError, match="q must"):
        relational.fuzzy_join(L, R, "name", "rname", q=0)


def test_fuzzy_join_hot_gram_cap_is_lossless(spark, monkeypatch):
    """The hot-gram cap prunes hot postings WITHOUT changing results:
    on a 2-letter alphabet (every gram hot) the capped plans —
    including cap=1, forced by patching the cap rule — return exactly
    the uncapped/oracle pairs, because the count threshold relaxes by
    min(h_a, h_b) and kept-short strings reroute to the length-band
    lane."""
    import random

    rng = random.Random(42)

    def mk(n):
        return [
            "".join(rng.choice("ab") for _ in range(rng.randint(0, 10)))
            for _ in range(n)
        ]

    A, B = mk(30) + [None], mk(30)
    L = spark.createDataFrame(list(enumerate(A)), "lid int, name string")
    R = spark.createDataFrame(list(enumerate(B)), "rid int, rname string")
    oracle = sorted(
        (r.lid, r.rid, r.d)
        for r in L.crossJoin(R)
        .filter(F.col("name").isNotNull())
        .select("lid", "rid", F.levenshtein("name", "rname").alias("d"))
        .filter(F.col("d") <= 2)
        .collect()
    )
    for cap in (None, 1, 5):
        monkeypatch.setattr(relational, "_fuzzy_auto_cap",
                            lambda mx, p99, cap=cap: cap)
        got = sorted(
            (r.lid, r.rid, r.dist)
            for r in relational.fuzzy_join(
                L, R, "name", "rname", max_dist=2, q=2
            ).collect()
        )
        assert got == oracle, cap


def test_fuzzy_join_auto_gram_cap(spark, monkeypatch):
    """The cap rule: on a planted stop-gram corpus (one gram shared by
    every string, hundreds of strings) the decision rule engages the
    lossless cap, and auto ≡ manual ≡ uncapped rows (the manual and
    uncapped caps forced by patching the rule); on a wholesome
    vocabulary the probe decides NOT to cap (the rule is pure and
    pinned directly)."""
    from cdc_pipeline_with_kafka_spark.operators.relational import (
        _FUZZY_AUTO_MIN_DF,
        _fuzzy_auto_cap,
    )

    # the pure decision rule
    assert _fuzzy_auto_cap(None, None) is None          # empty corpus
    assert _fuzzy_auto_cap(50, 3) is None               # under the floor
    assert _fuzzy_auto_cap(300, 3) == _FUZZY_AUTO_MIN_DF  # outlier: cap
    assert _fuzzy_auto_cap(300, 80) is None             # hot but so is p99
    assert _fuzzy_auto_cap(2000, 100) == 400            # 4×p99 governs

    # planted stop-gram corpus: 'zz' (and the pad gram) in EVERY one
    # of 300 strings → df=450 > floor while p99 over the ~500 letter
    # grams stays tiny → auto engages; rows identical all three ways.
    # (Digit suffixes would not do: their ~100 grams are too few for
    # the two hot grams to sit above p99.)
    abc = "abcdefghijklmnopqrstuvwxyz"
    names = [
        "zz" + abc[i % 26] + abc[(i // 26) % 26] + abc[(i * 7) % 26]
        for i in range(300)
    ]
    L = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "lid int, name string"
    )
    R = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names[:150])], "rid int, rname string"
    )
    runs, decided = {}, []

    def spy(mx, p99):
        decided.append(_fuzzy_auto_cap(mx, p99))
        return decided[-1]

    for mode in ("auto", None, _FUZZY_AUTO_MIN_DF):
        monkeypatch.setattr(
            relational, "_fuzzy_auto_cap",
            spy if mode == "auto" else (lambda mx, p99, m=mode: m),
        )
        runs[str(mode)] = sorted(
            (r.lid, r.rid, r.dist)
            for r in relational.fuzzy_join(
                L, R, "name", "rname", max_dist=1, q=2
            ).collect()
        )
    assert decided == [_FUZZY_AUTO_MIN_DF]  # the probe engaged the cap
    assert runs["auto"] == runs["None"] == runs[str(_FUZZY_AUTO_MIN_DF)]
    assert len(runs["auto"]) >= 150  # every exact pair + 1-edit pairs


def test_sorted_neighborhood_pairs_matches_naive(spark):
    """Sorted-neighborhood blocking: pair set identical to the naive
    global-sort oracle (every record × its `window` successors in
    (key, id) order), deterministic under duplicate keys, NULL keys
    excluded, boundary-straddling pairs present despite the
    range-partitioned rank assembly."""
    import random

    import pytest as _pt

    rng = random.Random(13)
    rows = [
        (i, rng.choice(["ab", "ba", "bb", "ca", "cb", None]))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "rid int, k string")
    got = sorted(
        (r.id_a, r.id_b, r.gap)
        for r in relational.sorted_neighborhood_pairs(
            df, "rid", "k", window=4
        ).collect()
    )
    ordered = sorted(
        ((k, i) for i, k in rows if k is not None)
    )
    want = sorted(
        (ordered[i][1], ordered[j][1], j - i)
        for i in range(len(ordered))
        for j in range(i + 1, min(i + 5, len(ordered)))
    )
    assert got == want
    # keys unique per pair side, gap bounds hold
    assert all(1 <= g <= 4 for _, _, g in got)
    with _pt.raises(ValueError, match="window"):
        relational.sorted_neighborhood_pairs(df, "rid", "k", window=0)
    # empty / all-NULL input → empty frame with the right columns
    empty = relational.sorted_neighborhood_pairs(
        spark.createDataFrame([(1, None)], "rid int, k string"),
        "rid", "k",
    )
    assert empty.count() == 0
    assert empty.columns == ["id_a", "id_b", "key_a", "key_b", "gap"]


def test_sorted_neighborhood_single_range_exchange(spark):
    """r13 (lazy in-plan offsets): the offs and ranked legs both hang
    off ONE range-partitioning exchange — the executed plan must show
    the second consumer as ReusedExchange/reused subquery, because
    partition offsets computed from one (sampled) range partitioning
    applied to a DIFFERENT one's partition ids would mis-rank."""
    df = spark.createDataFrame(
        [(i, f"k{i % 7}") for i in range(100)], "rid int, k string"
    )
    out = relational.sorted_neighborhood_pairs(df, "rid", "k", window=3)
    out.collect()  # execute THIS query so its adaptive plan finalizes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    n_range_exch = sum(
        1 for line in final.splitlines()
        if "Exchange rangepartitioning" in line and "Reused" not in line
    )
    assert n_range_exch == 1, final
    assert any(
        "ReusedExchange" in line and "rangepartitioning" in line
        for line in final.splitlines()
    ), final


def test_enforce_k_anonymity_suppression_and_generalization(spark):
    """The enforcement transform: output restricted to classes
    satisfying (k, l); re-auditing the output finds ZERO violating
    classes (k-anonymous by construction); a generalization rung
    recovers rows suppression alone would drop; NULL quasi values
    class exactly as the report does; guards mirror the report's."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        enforce_k_anonymity,
        k_anonymity_report,
    )

    rows = ([("10001", "1980", "flu")] * 5
            + [("10001", "1981", "flu")] * 2      # k-violating alone
            + [("10002", "1990", "cold")] * 2     # k-violating
            + [("10003", None, "flu")] * 6)       # NULL-classed, safe
    df = spark.createDataFrame(rows, "zip string, yob string, dx string")
    kept = enforce_k_anonymity(df, ["zip", "yob"], k=3)
    assert kept.count() == 11  # the two small classes suppressed
    assert kept.columns == df.columns
    # by-construction invariant: re-audit shows zero violating classes
    audit = k_anonymity_report(kept, ["zip", "yob"], k=3).collect()
    assert [r for r in audit if r["class_kind"] == "class"] == []
    # l-diversity: the all-flu classes fall once (sensitive, l) bind
    ldiv = enforce_k_anonymity(
        df, ["zip", "yob"], k=3, sensitive_col="dx", l_distinct=2
    )
    assert ldiv.count() == 0  # every surviving class is homogeneous
    # one generalization rung (yob → decade) merges 1980/1981 into a
    # 7-row class: suppression-only lost those 2 rows, the rung keeps
    # them (at coarser precision — the output CARRIES the coarsening)
    gen = enforce_k_anonymity(
        df, ["zip", "yob"], k=3,
        generalize={"yob": F.concat(F.substring("yob", 1, 3), F.lit("0"))},
    )
    assert gen.count() == 13  # 5 + 2 recovered + 6; (10002,1990) still < k
    assert {r["yob"] for r in gen.select("yob").collect()} == {"1980", None}
    with _pt.raises(ValueError, match="together"):
        enforce_k_anonymity(df, ["zip"], k=3, sensitive_col="dx")
    with _pt.raises(ValueError, match="unknown columns"):
        enforce_k_anonymity(df, ["zip"], k=3, generalize={"nope": F.lit(1)})


def test_k_anonymity_null_vs_literal_sentinel_never_merge(spark):
    """Regression: a quasi column actually CONTAINING the rendering
    sentinel '∅' must not merge its class with the NULL class — the
    merged count could push a violating class past k.  Both report
    and enforce class on the (rendered, is_null) key pair."""
    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        enforce_k_anonymity,
        k_anonymity_report,
    )

    rows = [("∅",)] * 4 + [(None,)] * 2
    df = spark.createDataFrame(rows, "zip string")
    # pre-fix: one merged class of 6 >= 5 → everything (wrongly) passed
    assert enforce_k_anonymity(df, ["zip"], k=5).count() == 0
    viol = [
        r for r in k_anonymity_report(df, ["zip"], k=5).collect()
        if r["class_kind"] == "class"
    ]
    assert sorted(r["n_rows"] for r in viol) == [2, 4]  # two classes
    # both render '∅' — display-ambiguous, structurally distinct
    assert {r["quasi_values"] for r in viol} == {"∅"}


def test_anonymize_with_ladder_walks_rungs_monotone(spark):
    """Ladder driver: rung 0 (no generalization) suppresses too much,
    rung 1 (decade) reaches the target and the walk stops there; kept
    counts are monotone in the rung; the release re-audits clean; an
    exhausted ladder returns the coarsest release with the shortfall
    visible in stats."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        anonymize_with_ladder,
        k_anonymity_report,
    )

    rows = ([("10001", "1980")] * 4
            + [("10001", "1981")] * 4     # merge at decade → 8
            + [("10002", "1990")] * 2)    # violating at every rung here
    df = spark.createDataFrame(rows, "zip string, yob string")
    ladders = {
        "yob": [
            F.concat(F.substring("yob", 1, 3), F.lit("0")),  # decade
            F.lit("*"),                                      # erased
        ],
    }
    released, rung, stats = anonymize_with_ladder(
        df, ["zip", "yob"], k=5, ladders=ladders,
        max_suppressed_ppm=200_000,
    )
    assert rung == 1 and len(stats) == 2  # stopped at the first hit
    assert [s["kept"] for s in stats] == [0, 8]
    assert stats[1]["suppressed_ppm"] == 200_000
    # monotone retention held on the tried prefix
    assert all(a["kept"] <= b["kept"] for a, b in zip(stats, stats[1:]))
    # the release is k-anonymous under ITS rung's coarsening
    audit = k_anonymity_report(released, ["zip", "yob"], k=5).collect()
    assert [r for r in audit if r["class_kind"] == "class"] == []
    assert {r["yob"] for r in released.select("yob").collect()} == {"1980"}
    # unreachable target: ladder exhausts, coarsest release returned
    rel2, rung2, stats2 = anonymize_with_ladder(
        df, ["zip", "yob"], k=5, ladders=ladders, max_suppressed_ppm=0,
    )
    assert rung2 == 2 and len(stats2) == 3
    assert stats2[-1]["suppressed_ppm"] > 0  # shortfall visible
    assert rel2.count() == 8
    assert [s["kept"] for s in stats2] == [0, 8, 8]
    import pytest as _pt
    with _pt.raises(ValueError, match="quasi"):
        anonymize_with_ladder(df, ["zip"], 5, {"yob": [F.lit("*")]})
    with _pt.raises(ValueError, match="at least one rung"):
        anonymize_with_ladder(df, ["zip"], 5, {"zip": []})


def test_anonymize_with_ladder_pins_winner_no_replan(spark):
    """r12: the walk already executes each rung's enforce plan for its
    `kept` count; the returned frame must read the pinned (local-
    checkpointed) result, NOT re-execute the classes groupBy +
    semi-join — its physical plan is an RDD scan with zero aggregates
    or joins, and its rows match the stats' kept count."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.operators.textstats import (
        anonymize_with_ladder,
    )

    rows = [("10001", "1980")] * 4 + [("10001", "1981")] * 4
    df = spark.createDataFrame(rows, "zip string, yob string")
    released, rung, stats = anonymize_with_ladder(
        df, ["zip", "yob"], k=5,
        ladders={"yob": [F.concat(F.substring("yob", 1, 3), F.lit("0"))]},
        max_suppressed_ppm=0,
    )
    plan = released._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan" in plan.splitlines()[0]
    for node in ("HashAggregate", "SortMergeJoin", "BroadcastHashJoin"):
        assert node not in plan, f"winner re-executes enforce: {node} in plan"
    assert released.count() == stats[rung]["kept"] == 8
