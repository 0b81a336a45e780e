"""seasonal_anomaly (trends) + record_linkage_score (relational) +
make_drift_sink (streaming) — the r9 third wave."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from cdc_pipeline_with_kafka_spark.operators import relational, trends
from cdc_pipeline_with_kafka_spark.streaming import pipeline


# ------------------------------------------------------ seasonal_anomaly

def _hourly(spark, rows):
    return spark.createDataFrame(rows, "k string, bucket string, cnt long") \
        .withColumn("bucket", F.col("bucket").cast("timestamp_ntz"))


def test_seasonal_anomaly_flags_same_slot_outlier(spark):
    # Monday-9am slot across 5 weeks: 9,10,11,10,100 — spike week 5;
    # a big-but-normal 23:00 slot would mask it in a TRAILING window
    vals = {1: 9, 8: 10, 15: 11, 22: 10, 29: 100}
    rows = [("k", f"2024-01-{d:02d} 09:00:00", v) for d, v in vals.items()]
    rows += [("k", f"2024-01-{d:02d} 23:00:00", 1000 + d)
             for d in (1, 8, 15, 22, 29)]
    out = {(r["slot_hour"], r["cnt"]): r for r in trends.seasonal_anomaly(
        _hourly(spark, rows), ["k"], "bucket", "cnt", micro=1).collect()}
    spike = out[(9, 100)]
    assert spike["n_slot"] == 5
    assert spike["z"] > 50            # judged only against 9,10,11,10
    assert abs(out[(9, 10)]["z"]) < 2  # its normal peers stay quiet
    # zero-variance/zero-peer guard: big 23:00 values are NOT flagged
    # relative to the 9am slot (separate slot, own baseline)
    assert abs(out[(23, 1029)]["z"]) < 3


def test_seasonal_anomaly_leave_one_out_exact(spark):
    # slot peers 8, 10, 12 (mean 10, pop-var 8/3); x = 30
    rows = [("k", "2024-01-01 09:00:00", 8),
            ("k", "2024-01-08 09:00:00", 10),
            ("k", "2024-01-15 09:00:00", 12),
            ("k", "2024-01-22 09:00:00", 30)]
    out = {r["cnt"]: r for r in trends.seasonal_anomaly(
        _hourly(spark, rows), ["k"], "bucket", "cnt", micro=1).collect()}
    x = out[30]
    m = (8 + 10 + 12) / 3.0
    var = (8 * 8 + 10 * 10 + 12 * 12) / 3.0 - m * m
    assert x["z"] == pytest.approx((30 - m) / math.sqrt(var), abs=1e-9)
    assert x["n_slot"] == 4
    # zero-variance peers → z = 0 (guard, not inf)
    assert out[8]["z"] != 0  # 8 vs peers {10,12,30}


def test_seasonal_anomaly_min_points_and_slots(spark):
    rows = [("k", "2024-01-01 09:00:00", 5),
            ("k", "2024-01-08 09:00:00", 50)]  # only 1 peer each
    out = trends.seasonal_anomaly(
        _hourly(spark, rows), ["k"], "bucket", "cnt", micro=1).collect()
    assert all(r["z"] == 0.0 for r in out)
    assert all(r["slot_hour"] == 9 for r in out)
    # 2024-01-01 is a Monday; epoch anchor Thursday=0 → Monday = 4
    assert all(r["slot_dow"] == 4 for r in out)


# ------------------------------------------------- record_linkage_score

def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "id long, nm_a string, nm_b string, ph_a string, ph_b string")


def test_linkage_weights_and_decisions(spark):
    w = {"nm": (0.9, 0.1), "ph": (0.8, 0.05)}
    wa_nm = round(math.log(0.9 / 0.1) * 1e6)
    wd_nm = round(math.log(0.1 / 0.9) * 1e6)
    wa_ph = round(math.log(0.8 / 0.05) * 1e6)
    rows = [(1, "ann", "ann", "555", "555"),   # full agree
            (2, "ann", "bob", "555", "555"),   # name disagrees
            (3, "ann", "ann", None, "555")]    # phone missing
    out = {r["id"]: r for r in relational.record_linkage_score(
        _pairs(spark, rows), w,
        upper_micro=3_000_000, lower_micro=0).collect()}
    assert out[1]["score_micro"] == wa_nm + wa_ph
    assert out[1]["decision"] == "match" and out[1]["n_agree"] == 2
    assert out[2]["score_micro"] == wd_nm + wa_ph
    assert out[2]["n_disagree"] == 1
    assert out[3]["score_micro"] == wa_nm and out[3]["n_missing"] == 1
    assert out[3]["decision"] == "possible"


def test_linkage_guards(spark):
    df = _pairs(spark, [(1, "a", "a", "p", "p")])
    with pytest.raises(ValueError):
        relational.record_linkage_score(df, {})
    with pytest.raises(ValueError, match="must exceed"):
        relational.record_linkage_score(df, {"nm": (0.1, 0.9)})
    with pytest.raises(ValueError, match="both thresholds"):
        relational.record_linkage_score(
            df, {"nm": (0.9, 0.1)}, upper_micro=1)
    with pytest.raises(ValueError):
        relational.record_linkage_score(
            df, {"nm": (1.0, 0.1)})


def test_linkage_score_is_pure_column_sum_no_shuffle(spark):
    df = _pairs(spark, [(1, "a", "a", "p", "p")])
    plan = relational.record_linkage_score(
        df, {"nm": (0.9, 0.1)})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan  # scoring never reshuffles pairs


# ----------------------------------------------------- make_drift_sink

def test_drift_sink_report_breach_and_fail(spark, tmp_path):
    ref = spark.createDataFrame([(v,) for v in [1, 2, 3, 4] * 25], "v int")
    same = spark.createDataFrame([(v,) for v in [1, 2, 3, 4] * 5], "v int")
    shifted = spark.createDataFrame([(v,) for v in [30, 40] * 10], "v int")
    seen = []
    rp = str(tmp_path / "drift")
    sink = pipeline.make_drift_sink(
        rp, ref, "v", threshold_ppm=200_000,
        downstream=lambda df, b: seen.append((b, df.count())),
    )
    sink(same, 0)
    sink(shifted, 1)
    r0 = spark.read.parquet(f"{rp}/batch_id=0").collect()[0]
    r1 = spark.read.parquet(f"{rp}/batch_id=1").collect()[0]
    assert r0["d_ppm"] == 0 and not r0["breached"]
    assert r1["d_ppm"] == 1_000_000 and r1["breached"]
    assert r1["at_value"] == "4"  # full separation at the last ref value
    assert seen == [(0, 20), (1, 20)]  # report mode always delivers

    # replay idempotence: rewriting batch 1 leaves ONE report
    sink(shifted, 1)
    assert spark.read.parquet(f"{rp}/batch_id=1").count() == 1

    # fail mode: breach raises, downstream NOT called
    seen.clear()
    sink2 = pipeline.make_drift_sink(
        str(tmp_path / "d2"), ref, "v", threshold_ppm=200_000,
        on_breach="fail",
        downstream=lambda df, b: seen.append(b),
    )
    with pytest.raises(ValueError, match="drift"):
        sink2(shifted, 0)
    assert seen == []
    sink2(same, 1)
    assert seen == [1]


def test_drift_sink_guards(spark, tmp_path):
    ref = spark.createDataFrame([(i,) for i in range(50)], "v int")
    with pytest.raises(ValueError, match="distinct"):
        pipeline.make_drift_sink(str(tmp_path / "g"), ref, "v",
                                 max_values=10)
    with pytest.raises(ValueError, match="on_breach"):
        pipeline.make_drift_sink(str(tmp_path / "g"), ref, "v",
                                 on_breach="quarantine")
    sink = pipeline.make_drift_sink(str(tmp_path / "g2"), ref, "v",
                                    max_values=60)
    batch = spark.createDataFrame([(i,) for i in range(70)], "v int")
    with pytest.raises(ValueError, match="quantize"):
        sink(batch, 0)


def test_ewma_integer_recursion_vs_python_replay(spark):
    """EWMA as the exact integer-micro recursion with sign-safe
    TRUNCATING division: every smoothed value and one-step residual
    matches a pure-Python big-int replay on a randomized series with
    negatives and NULLs (excluded); guards on alpha/order."""
    import random

    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators.trends import ewma

    rng = random.Random(9)
    rows = []
    for g in ("a", "b"):
        for t in range(60):
            v = round(rng.uniform(-50, 50), 2)
            rows.append((g, t, v if rng.random() > 0.05 else None))
    df = spark.createDataFrame(rows, "g string, t int, v double")
    got = {
        (r.g, r.t): (r.ewma_micro, r.resid_micro)
        for r in ewma(df, ["g"], ["t"], "v", 300_000).collect()
    }
    exp = {}
    for g in ("a", "b"):
        s = None
        for gg, t, v in rows:
            if gg != g or v is None:
                continue
            xm = int(round(v * 1_000_000))
            if s is None:
                r = 0
                s = xm
            else:
                r = xm - s
                num = 300_000 * xm + 700_000 * s
                s = num // 1_000_000 if num >= 0 else -((-num) // 1_000_000)
            exp[(g, t)] = (s, r)
    assert got == exp
    with _pt.raises(ValueError, match="alpha"):
        ewma(df, ["g"], ["t"], "v", 0)
    with _pt.raises(ValueError, match="order_cols"):
        ewma(df, ["g"], [], "v")


def test_resolve_entities_transitive_hull_and_field_split(spark):
    """End-to-end entity resolution: typo chain A≈B≈C resolves to ONE
    entity though A and C exceed max_dist; same-name records with
    disagreeing fields split under Fellegi–Sunter weights; NULL names
    and singletons self-resolve; Σ entity_size over canonical rows =
    row count (totality)."""
    from cdc_pipeline_with_kafka_spark.operators.relational import (
        resolve_entities,
    )

    rows = [
        (1, "acme corp", "NY", 100.0),
        (2, "acme corp.", "NY", 100.0),
        (3, "acme corpse", "NY", 100.0),
        (4, "zenith ltd", "CA", 5.0),
        (5, "zenith ltd", "TX", 7.0),
        (6, "unrelated co", "WA", 3.0),
        (7, None, "WA", 3.0),
    ]
    df = spark.createDataFrame(rows, "id int, name string, region string, bal double")
    out = {
        r.id: (r.entity_id, r.entity_size, r.is_canonical)
        for r in resolve_entities(df, "id", "name", max_dist=2).collect()
    }
    assert out[1] == (1, 3, True) and out[2][0] == out[3][0] == 1
    assert out[4] == (4, 2, True) and out[5] == (4, 2, False)
    assert out[6] == (6, 1, True) and out[7] == (7, 1, True)
    assert sum(v[1] for v in out.values() if v[2]) == len(rows)
    out2 = {
        r.id: r.entity_id
        for r in resolve_entities(
            df, "id", "name",
            field_weights={"region": (0.95, 0.05), "bal": (0.9, 0.05)},
            max_dist=2, match_micro=1_000_000,
        ).collect()
    }
    assert out2[1] == out2[2] == out2[3] == 1
    assert out2[4] == 4 and out2[5] == 5  # field evidence splits them
    import pytest as _pt

    with _pt.raises(ValueError, match="together"):
        resolve_entities(df, "id", "name",
                         field_weights={"region": (0.9, 0.1)})


def test_holt_smoothing_level_trend_vs_python_replay(spark):
    """Holt double-exponential: level/trend/forecast match the exact
    integer big-int replay on a drifting noisy series with NULLs;
    trend state tracks the planted slope; guards."""
    import random

    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators.trends import holt_smoothing

    rng = random.Random(21)
    rows = []
    for g in ("a", "b"):
        for t in range(60):
            v = round(0.8 * t + rng.uniform(-20, 20), 2)
            rows.append((g, t, v if rng.random() > 0.04 else None))
    df = spark.createDataFrame(rows, "g string, t int, v double")
    A, B = 250_000, 150_000
    got = {
        (r.g, r.t): (r.level_micro, r.trend_micro, r.forecast_micro)
        for r in holt_smoothing(df, ["g"], ["t"], "v", A, B).collect()
    }

    def tdiv(n):
        return n // 1_000_000 if n >= 0 else -((-n) // 1_000_000)

    exp = {}
    for g in ("a", "b"):
        s = b = None
        for gg, t, v in rows:
            if gg != g or v is None:
                continue
            xm = int(round(v * 1_000_000))
            if s is None:
                s, b = xm, 0
            else:
                prev = s
                s = tdiv(A * xm + (1_000_000 - A) * (s + b))
                b = tdiv(B * (s - prev) + (1_000_000 - B) * b)
            exp[(g, t)] = (s, b, s + b)
    assert got == exp
    # drift capture: late trend states sit near the planted slope
    # (0.8/step → 800000 micro), not near zero
    late = [v[1] for (g, t), v in got.items() if t > 40]
    assert sum(late) / len(late) > 400_000
    with _pt.raises(ValueError, match="beta"):
        holt_smoothing(df, ["g"], ["t"], "v", 100_000, 2_000_000)


def test_forecast_backtest_both_modes_vs_replay(spark):
    """One-step-ahead backtest metrics (n_eval, exact MAE/bias micro,
    MAPE ppm with x=0 excluded) vs the pure-Python recursion+lag
    replay, in both EWMA and Holt modes."""
    import random

    from cdc_pipeline_with_kafka_spark.operators.trends import (
        forecast_backtest,
    )

    rng = random.Random(31)
    rows = []
    for g in ("a", "b"):
        for t in range(40):
            v = round(rng.uniform(-30, 30), 2)
            if rng.random() < 0.06:
                v = 0.0
            rows.append((g, t, v if rng.random() > 0.05 else None))
    df = spark.createDataFrame(rows, "g string, t int, v double")

    def tdiv(n, d):
        return n // d if n >= 0 else -((-n) // d)

    def replay(alpha, beta):
        out = {}
        for g in ("a", "b"):
            s = b = None
            errs, mapes = [], []
            for gg, t, v in rows:
                if gg != g or v is None:
                    continue
                xm = int(round(v * 1_000_000))
                pred = None if s is None else (s if beta is None else s + b)
                if s is None:
                    s, b = xm, 0
                elif beta is None:
                    s = tdiv(alpha * xm + (1_000_000 - alpha) * s, 1_000_000)
                else:
                    prev = s
                    s = tdiv(
                        alpha * xm + (1_000_000 - alpha) * (s + b), 1_000_000
                    )
                    b = tdiv(
                        beta * (s - prev) + (1_000_000 - beta) * b, 1_000_000
                    )
                if pred is not None:
                    e = xm - pred
                    errs.append(e)
                    if xm != 0:
                        mapes.append(abs(e) * 1_000_000 // abs(xm))
            n = len(errs)
            out[g] = (
                n, tdiv(sum(abs(e) for e in errs), n), tdiv(sum(errs), n),
                len(mapes), sum(mapes) // len(mapes) if mapes else None,
            )
        return out

    for alpha, beta in ((300_000, None), (250_000, 150_000)):
        got = {
            r.g: (r.n_eval, r.mae_micro, r.bias_micro, r.n_mape, r.mape_ppm)
            for r in forecast_backtest(
                df, ["g"], ["t"], "v", alpha, beta
            ).collect()
        }
        assert got == replay(alpha, beta), (alpha, beta)


def test_drift_sink_auto_quantizes_fractional_reference(spark, tmp_path):
    """A continuous (double) value column no longer funnels row-count
    distinct values through the sink's collects: the grid is pinned
    from the reference min/max at build, every batch maps onto it
    (out-of-range values clamp to the edge cells), and None opts out
    back to the raw-value guard."""
    ref = spark.createDataFrame(
        [(i / 7.0,) for i in range(200)], "v double")
    # raw-value path trips the guard at 200 distinct doubles…
    with pytest.raises(ValueError, match="distinct"):
        pipeline.make_drift_sink(str(tmp_path / "raw"), ref, "v",
                                 max_values=50, auto_quantize_cells=None)
    # …the default quantize path does not (32 cells < 50)
    rp = str(tmp_path / "q")
    sink = pipeline.make_drift_sink(
        rp, ref, "v", threshold_ppm=300_000,
        max_values=50, auto_quantize_cells=32)
    same = spark.createDataFrame([(i / 7.0,) for i in range(200)],
                                 "v double")
    sink(same, 0)
    r0 = spark.read.parquet(f"{rp}/batch_id=0").collect()[0]
    assert r0["d_ppm"] == 0 and not r0["breached"]
    # a batch entirely ABOVE the reference range clamps to the top
    # cell — the drift shows up as near-total separation
    high = spark.createDataFrame([(1000.0 + i,) for i in range(500)],
                                 "v double")
    sink(high, 1)
    r1 = spark.read.parquet(f"{rp}/batch_id=1").collect()[0]
    assert r1["breached"] and r1["d_ppm"] > 900_000


def test_batch_smoothers_state_chaining_bit_equal(spark):
    """A 100 TB history processed shard-by-shard with chained state
    is BIT-EQUAL to the one-shot kernel: run shard 1, seed shard 2
    from shard 1's last (per-key) state, and the concatenation of
    outputs matches one-shot ewma/holt on the full series — including
    a key that only appears in shard 2 (cold start) and negative
    values (sign-safe division)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cdc_pipeline_with_kafka_spark.operators import trends as T

    rows = [("a", t, float((-1) ** t * (t * 7 % 23)) / 3) for t in range(40)]
    rows += [("b", t, float(t * t % 13)) for t in range(40)]
    rows += [("c", t, 5.0 + t) for t in range(20, 40)]  # shard-2-only key
    full = spark.createDataFrame(rows, "g string, t int, v double")
    s1 = full.filter("t < 20")
    s2 = full.filter("t >= 20")

    def last_state(out, cols):
        w = Window.partitionBy("g").orderBy(F.col("t").desc())
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").select("g", *cols)
        )

    # EWMA
    one = sorted((r.g, r.t, r.ewma_micro, r.resid_micro) for r in
                 T.ewma(full, ["g"], ["t"], "v", 170_000).collect())
    o1 = T.ewma(s1, ["g"], ["t"], "v", 170_000)
    o2 = T.ewma(s2, ["g"], ["t"], "v", 170_000,
                state=last_state(o1, ["ewma_micro"]))
    chained = sorted((r.g, r.t, r.ewma_micro, r.resid_micro)
                     for r in o1.unionByName(o2).collect())
    assert chained == one
    # Holt
    cols = ["level_micro", "trend_micro", "forecast_micro"]
    oneh = sorted((r.g, r.t, *[r[c] for c in cols]) for r in
                  T.holt_smoothing(full, ["g"], ["t"], "v",
                                   250_000, 150_000).collect())
    h1 = T.holt_smoothing(s1, ["g"], ["t"], "v", 250_000, 150_000)
    h2 = T.holt_smoothing(
        s2, ["g"], ["t"], "v", 250_000, 150_000,
        state=last_state(h1, ["level_micro", "trend_micro"]))
    chainedh = sorted((r.g, r.t, *[r[c] for c in cols])
                      for r in h1.unionByName(h2).collect())
    assert chainedh == oneh
    # malformed state frames raise loudly
    import pytest as _pt
    bad = spark.createDataFrame([("a", 1)], "g string, nope int")
    with _pt.raises(ValueError, match="state frame"):
        T.ewma(s2, ["g"], ["t"], "v", state=bad)
    with _pt.raises(ValueError, match="state frame"):
        T.holt_smoothing(s2, ["g"], ["t"], "v", state=bad)


def test_jaro_winkler_hand_examples_and_spark_parity(spark):
    """jw_core reproduces the textbook Jaro–Winkler values as exact
    floored ppm (MARTHA/MARHTA = 173/180, DIXON/DICKSONX classic),
    and the Spark pandas-UDF column lands the IDENTICAL integers on
    randomized strings (the shared-kernel contract); NULLs score
    NULL; the prefix-boost bound guard raises."""
    import random

    import pytest as _pt

    from cdc_pipeline_with_kafka_spark.operators.relational import (
        jaro_winkler,
        jw_core,
    )

    assert jw_core("MARTHA", "MARHTA") == 961_111   # 173/180
    assert jw_core("DIXON", "DICKSONX") == 813_333  # 61/75
    assert jw_core("abc", "abc") == 1_000_000
    assert jw_core("", "") == 1_000_000
    assert jw_core("abc", "") == 0
    assert jw_core("abc", "xyz") == 0
    # transposition-free subset: CRATE/TRACE (m=3, t=0, no prefix)
    assert jw_core("CRATE", "TRACE") == 733_333     # (3/5+3/5+1)/3

    rng = random.Random(99)

    def w():
        return "".join(rng.choice("abcde") for _ in range(rng.randint(0, 9)))

    rows = [(i, w(), w()) for i in range(300)] + [(300, None, "x"),
                                                  (301, "x", None)]
    df = spark.createDataFrame(rows, "i int, a string, b string")
    got = {r["i"]: r["jw_ppm"]
           for r in jaro_winkler(df, "a", "b").collect()}
    for i, a, b in rows:
        want = None if a is None or b is None else jw_core(a, b)
        assert got[i] == want, (i, a, b)
    with _pt.raises(ValueError, match="prefix"):
        jaro_winkler(df, "a", "b", prefix_scale_ppm=300_000)


def test_drift_sink_nan_and_inf_reference(spark, tmp_path):
    """A NaN in a double reference must not silently disable the
    pinned grid (NaN ≙ NULL, dropped consistently from reference and
    batches); a ±Inf reference raises at sink build instead of
    pinning a degenerate width=inf grid."""
    vals = [i / 3.0 for i in range(600)]
    ref = spark.createDataFrame(
        [(v,) for v in vals] + [(float("nan"),)], "v double"
    )
    # grid engages despite the NaN: 600 raw values would breach
    # max_values=100 if auto-quantize silently disengaged
    rp = str(tmp_path / "dn")
    sink = pipeline.make_drift_sink(
        rp, ref, "v", max_values=100, auto_quantize_cells=50
    )
    batch = spark.createDataFrame(
        [(v,) for v in vals] + [(float("nan"),)], "v double"
    )
    sink(batch, 0)
    r0 = spark.read.parquet(f"{rp}/batch_id=0").collect()[0]
    assert r0["d_ppm"] == 0 and r0["n_ref"] == 600 and r0["n_batch"] == 600
    bad = spark.createDataFrame(
        [(1.0,), (float("inf"),)], "v double"
    )
    with pytest.raises(ValueError, match="not finite"):
        pipeline.make_drift_sink(str(tmp_path / "di"), bad, "v")


def test_soundex_key_canonical_fixtures(spark):
    """American Soundex column chain against the canonical fixture
    set (the NARA coding examples incl. the H/W-transparency Ashcraft
    rule and H/W-initial names), plus NULL/letterless → NULL."""
    from cdc_pipeline_with_kafka_spark.operators.relational import (
        soundex_key,
    )

    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Jackson": "J250", "Gutierrez": "G362",
        "WHITE": "W300", "Holmes": "H452", "Lee": "L000",
        "O'Brien": "O165", "Wroblewski": "W614", "h w": "H000",
        "": None, "123": None, None: None,
    }
    df = spark.createDataFrame([(k,) for k in cases], "n string")
    got = {
        r["n"]: r["s"]
        for r in df.select(
            "n", soundex_key(F.col("n")).alias("s")
        ).collect()
    }
    assert got == cases
