"""Sketch operators: heavy hitters (candidate/verify), quantile
summaries, count-min sketch.  Equivalence against exact plans plus the
probabilistic guarantees the docstrings promise."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark import plans
from cdc_pipeline_with_kafka_spark.operators import sketch

from .conftest import SF_CORRECT


def _words(spark, n=20000, vocab=200, parts=8, zipf=True, seed=7):
    rng = random.Random(seed)
    if zipf:
        # Zipf-ish: key i with weight 1/(i+1)
        weights = [1.0 / (i + 1) for i in range(vocab)]
        keys = rng.choices([f"k{i:04d}" for i in range(vocab)], weights=weights, k=n)
    else:
        keys = [f"k{rng.randrange(vocab):04d}" for _ in range(n)]
    return spark.createDataFrame([(k,) for k in keys], "w string").repartition(parts)


def test_heavy_hitters_matches_exact_topk(spark):
    df = _words(spark)
    topk, bound = sketch.heavy_hitters(df, "w", 10)
    got = [(r["w"], r["cnt"]) for r in topk.collect()]
    exact = [
        (r["w"], r["cnt"])
        for r in df.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(10)
        .collect()
    ]
    assert got == exact
    # Zipf head with factor 8 → provably exact
    kth = got[-1][1]
    assert kth >= bound.collect()[0]["missing_upper_bound"]


def test_heavy_hitters_bound_is_sound_under_uniform_keys(spark):
    """Adversarial shape: uniform keys, tiny candidate budget.  The
    top-k itself may be unprovable, but the advertised invariant must
    hold: no non-candidate key's true count exceeds the bound."""
    df = _words(spark, n=5000, vocab=500, zipf=False)
    m = 2 * 1  # k=1, factor=2
    topk, bound = sketch.heavy_hitters(df, "w", 1, candidate_factor=2)
    b = bound.collect()[0]["missing_upper_bound"]
    local = df.select("w").mapInPandas(
        sketch._local_topm("w", max(m, 2)), schema="w string, local_cnt long, is_thresh boolean"
    )
    candidates = {r["w"] for r in local.filter(~F.col("is_thresh")).collect()}
    exact = df.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()
    worst_missing = max((r["cnt"] for r in exact if r["w"] not in candidates), default=0)
    assert worst_missing <= b


def test_heavy_hitters_verify_join_is_broadcast_semi(spark):
    df = _words(spark, n=2000)
    topk, _ = sketch.heavy_hitters(df, "w", 5)
    plan = plans.formatted_plan(topk)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_quantile_summary_exact_matches_numpy(spark):
    import numpy as np

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    probs = [0.25, 0.5, 0.9]
    got = {
        (r["lang"], r["prob"]): r["quantile"]
        for r in sketch.quantile_summary(docs, "n_chars", probs, stratum_col="lang").collect()
    }
    pdf = docs.select("lang", "n_chars").toPandas()
    for lang, grp in pdf.groupby("lang"):
        for p in probs:
            want = float(np.percentile(grp["n_chars"].astype(float), p * 100))
            assert got[(lang, p)] == pytest.approx(want, abs=1e-9)


def test_quantile_summary_approx_within_rank_error(spark):
    import numpy as np

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    acc = 100  # rank error <= n/acc
    got = {
        r["prob"]: r["quantile"]
        for r in sketch.quantile_summary(
            docs, "n_chars", [0.5], approx=True, accuracy=acc
        ).collect()
    }
    vals = np.sort(docs.select("n_chars").toPandas()["n_chars"].astype(float).values)
    n = len(vals)
    lo = vals[max(0, int(n * (0.5 - 1.0 / acc)) - 1)]
    hi = vals[min(n - 1, int(n * (0.5 + 1.0 / acc)) + 1)]
    assert lo <= got[0.5] <= hi


def test_cms_overestimates_within_eps(spark):
    df = _words(spark, n=10000, vocab=100)
    eps = 0.001
    row = sketch.cms_counts(df, "w", eps=eps).collect()[0]
    exact = {r["w"]: r["cnt"] for r in df.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    est = sketch.cms_estimate(spark, row["sketch"], list(exact))
    n = row["n"]
    for k, e in est.items():
        assert exact[k] <= e <= exact[k] + eps * n + 1


def test_hll_sketch_estimate_within_error(spark):
    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet")
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    got = {
        r["event_type"]: r["n_distinct"]
        for r in sketch.hll_sketches(ev, "user_id", ["event_type"]).collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        # lg_k=12 → ~1.6% stderr; 5% is a >3σ band
        assert abs(est - exact[k]) <= max(3, 0.05 * exact[k]), (k, est, exact[k])


def test_hll_merge_equals_direct_sketch(spark):
    """The 100 TB rollup invariant: per-day sketches merged up give the
    SAME estimate as sketching the whole table directly (HLL union is
    deterministic — same hashes, same registers), and no raw re-scan
    is needed for the coarser grain."""
    ev = spark.read.parquet(f"{SF_CORRECT}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    per_day = sketch.hll_sketches(ev, "user_id", ["event_type", "day"])
    rolled = {
        r["event_type"]: r["n_distinct"]
        for r in sketch.hll_merge(per_day, ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: r["n_distinct"]
        for r in sketch.hll_sketches(ev, "user_id", ["event_type"]).collect()
    }
    assert rolled == direct
    # global rollup (no groups) also works and matches
    global_rolled = sketch.hll_merge(per_day).collect()[0]["n_distinct"]
    global_direct = sketch.hll_sketches(ev, "user_id").collect()[0]["n_distinct"]
    assert global_rolled == global_direct


def test_table_profile_one_scan_and_values(spark):
    """Per-column nulls/distincts/extrema in ONE scan + one aggregate
    row; complex types profile nulls/distincts only; approx path runs."""
    import re

    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import sketch

    df = spark.createDataFrame(
        [
            (1, "a", [1, 2], {"x": 1}),
            (2, None, [], {}),
            (3, "a", None, None),
            (None, "b", [3], {"y": 2}),
        ],
        "k long, s string, arr array<long>, m map<string,long>",
    )
    out = {r["column"]: r for r in sketch.table_profile(df).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 1
    assert out["k"]["n_distinct"] == 3
    assert out["k"]["min_str"] == "1" and out["k"]["max_str"] == "3"
    assert out["s"]["n_distinct"] == 2 and out["s"]["n_nulls"] == 1
    assert out["arr"]["n_nulls"] == 1 and out["arr"]["min_str"] is None
    # map columns: nulls only — distinct on maps raises in Spark, so
    # n_distinct must come back NULL, not AnalysisException
    assert out["m"]["n_nulls"] == 1 and out["m"]["n_distinct"] is None
    assert out["m"]["min_str"] is None and out["m"]["max_str"] is None
    approx_m = {
        r["column"]: r
        for r in sketch.table_profile(df, approx_distinct=True).collect()
    }
    assert approx_m["m"]["n_distinct"] is None  # HLL on maps also rejected
    # r12 plan shape: TWO column-pruned scans (regular aggs ⨯ distinct
    # aggs — never per-column), and NO Sort anywhere: the old one-scan
    # form dragged the distinct Expand into a SortAggregate sorting
    # ×(cols+1) expanded rows by every column incl. full text
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plans.formatted_plan(sketch.table_profile(docs))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0
    # approx path produces a sane estimate
    approx = {
        r["column"]: r["n_distinct"]
        for r in sketch.table_profile(docs, approx_distinct=True).collect()
    }
    assert abs(approx["doc_id"] - 500) / 500 < 0.1


def test_table_profile_empty_table_zeros(spark):
    empty = spark.createDataFrame([], "k long, s string")
    from cdc_pipeline_with_kafka_spark.operators import sketch

    rows = {r["column"]: r for r in sketch.table_profile(empty).collect()}
    assert rows["k"]["n_rows"] == 0 and rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 0 and rows["k"]["min_str"] is None


def test_profile_sink_batches_and_replay(spark, tmp_path):
    """Per-batch profiles append under batch_id; a replayed batch
    overwrites byte-identically; the time series reads back whole."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.streaming import pipeline

    path = str(tmp_path / "profiles")
    sink = pipeline.make_profile_sink(path)
    b0 = spark.createDataFrame([(1, "a"), (2, None)], "k long, s string")
    b1 = spark.createDataFrame([(3, "c"), (None, "d")], "k long, s string")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # crash replay: overwrite, not append
    df = spark.read.option("basePath", path).parquet(path)
    rows = {(r["batch_id"], r["column"]): r for r in df.collect()}
    assert rows[(0, "s")]["n_nulls"] == 1 and rows[(0, "k")]["n_nulls"] == 0
    assert rows[(1, "k")]["n_nulls"] == 1
    assert len(rows) == 4  # 2 batches x 2 columns, replay didn't double


def test_equi_depth_histogram_exact_and_approx(spark):
    """Exact form: boundaries at exact rank quantiles (actual data
    values), depths equal on tie-free data, ties never straddle a
    boundary; approx form runs the GK path with sane buckets."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    df = spark.createDataFrame([(i,) for i in range(1, 17)], "v long")
    out = {r["bucket"]: r for r in sketch.equi_depth_histogram(df, "v", 4).collect()}
    assert [out[b]["n_rows"] for b in (1, 2, 3, 4)] == [4, 4, 4, 4]
    assert (out[1]["lo"], out[1]["hi"]) == (1.0, 4.0)
    assert (out[4]["lo"], out[4]["hi"]) == (13.0, 16.0)
    # heavy ties: all copies of a value land in ONE bucket
    tied = spark.createDataFrame([(5,)] * 10 + [(1,), (9,)], "v long")
    t = {r["bucket"]: r for r in sketch.equi_depth_histogram(tied, "v", 3).collect()}
    tie_buckets = [b for b, r in t.items() if r["lo"] <= 5.0 <= r["hi"]]
    assert len(tie_buckets) == 1 and t[tie_buckets[0]]["n_rows"] >= 10
    assert sum(r["n_rows"] for r in t.values()) == 12
    # NULLs excluded; empty input -> empty frame with the schema
    withnull = spark.createDataFrame([(1,), (None,)], "v long")
    assert sum(
        r["n_rows"] for r in sketch.equi_depth_histogram(withnull, "v", 2).collect()
    ) == 1
    empty = sketch.equi_depth_histogram(withnull.filter("v IS NULL AND v IS NOT NULL"), "v", 2)
    assert empty.count() == 0 and empty.columns == ["bucket", "lo", "hi", "n_rows"]
    # approx path: buckets cover the domain, counts total n
    big = spark.range(1, 1001).select(F.col("id").alias("v"))
    a = sketch.equi_depth_histogram(big, "v", 8, approx=True).collect()
    assert sum(r["n_rows"] for r in a) == 1000
    assert abs(max(r["n_rows"] for r in a) - 125) <= 30


def test_bloom_pruned_join_equals_plain_join(spark):
    """Result-identical to the plain join at low hit rates (no false
    negatives; FPs re-checked by the exact join); NULL keys prune;
    semi flavor works; outer flavors rejected."""
    import pytest

    from cdc_pipeline_with_kafka_spark.operators import sketch

    big = spark.createDataFrame(
        [(i, f"p{i}") for i in range(2000)] + [(None, "nullkey")],
        "key long, payload string",
    )
    small = spark.createDataFrame(
        [(i * 97, f"d{i}") for i in range(10)], "key long, dim string"
    )
    got = sorted(
        map(tuple, sketch.bloom_pruned_join(big, small, "key").collect())
    )
    want = sorted(map(tuple, big.join(small, "key").collect()))
    assert got == want and len(want) > 0
    semi = sketch.bloom_pruned_join(big, small, "key", how="left_semi")
    assert semi.count() == big.join(small, "key", "left_semi").count()
    with pytest.raises(ValueError, match="inner|left_semi"):
        sketch.bloom_pruned_join(big, small, "key", how="left")


def test_mad_outliers_lower_median_and_zero_mad_caveat(spark):
    """Known lower medians/MADs on planted groups: the 3.5-MAD fence
    catches the planted spike, a >half-constant group has mad=0 and
    flags every deviating row, singletons never flag, NULLs drop."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    rows = (
        [("a", v) for v in [1.0, 2.0, 3.0, 4.0, 100.0]]
        + [("b", v) for v in [5.0, 5.0, 5.0, 6.0]]
        + [("c", 10.0)]
        + [("a", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = sketch.mad_outliers(df, "v", ["g"], k_milli=3500).collect()
    got = {(r["g"], r["v"], r["med"], r["mad"]) for r in out}
    # group a: med = 3 (3rd smallest of 5), mad = 1 → only 100 flagged
    # group b: med = 5, mad = 0 → the deviating 6 flagged (caveat)
    assert got == {("a", 100.0, 3.0, 1.0), ("b", 6.0, 5.0, 0.0)}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sketch.mad_outliers(df, "v", ["g"], k_milli=-1)


def test_percentile_rank_ties_nulls_singletons(spark):
    """Ties share a percentile (pure function of the value), NULLs
    pass through with NULL rank and never shift others, singleton
    groups get 0, extremes pin to 0 and 1e6."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    rows = [("a", 10.0), ("a", 20.0), ("a", 20.0), ("a", 30.0),
            ("a", None), ("b", 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = sketch.percentile_rank(df, "v", ["g"])
    got = {(r["g"], r["v"], r["pct_ppm"]) for r in out.collect()}
    assert got == {
        ("a", 10.0, 0),
        ("a", 20.0, 333333),
        ("a", 30.0, 1_000_000),
        ("a", None, None),
        ("b", 7.0, 0),
    }
    # global (ungrouped) form
    g = sketch.percentile_rank(df.filter("v IS NOT NULL"), "v")
    assert {r["pct_ppm"] for r in g.collect()} == {0, 250000, 1_000_000, 500000}


def test_profile_diff_flags_drift_classes(spark):
    """Null burst, cardinality collapse/surge, added/removed columns,
    map columns skip distinct flags, unchanged columns stay clean."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    old = spark.createDataFrame(
        [("a", 100, 0, 50), ("b", 100, 1, 100), ("c", 100, 0, 10),
         ("gone", 100, 0, 3), ("m", 100, 2, None)],
        "column string, n_rows long, n_nulls long, n_distinct long",
    )
    new = spark.createDataFrame(
        [("a", 200, 30, 99),      # null 0 -> 150000 ppm: null_shift
         ("b", 200, 2, 2),        # 100 -> 2 distinct: collapse
         ("c", 200, 0, 41),       # 10 -> 41 (>2x): surge
         ("fresh", 200, 0, 7),    # added
         ("m", 200, 4, None)],    # map: no distinct flags
        "column string, n_rows long, n_nulls long, n_distinct long",
    )
    out = {r["column"]: r for r in sketch.profile_diff(old, new).collect()}
    assert out["a"]["flags"] == "null_shift" and out["a"]["flagged"]
    assert out["a"]["null_ppm_old"] == 0 and out["a"]["null_ppm_new"] == 150000
    assert out["b"]["flags"] == "distinct_collapse"
    assert out["c"]["flags"] == "distinct_surge"
    assert out["fresh"]["status"] == "added" and out["fresh"]["flagged"]
    assert out["gone"]["status"] == "removed" and out["gone"]["flagged"]
    assert out["m"]["flags"] == "" and not out["m"]["flagged"]


def test_profile_diff_composes_with_table_profile(spark):
    """End-to-end: a planted lang null-burst between two deliveries of
    the same table surfaces as exactly that column's flag."""
    from cdc_pipeline_with_kafka_spark.operators import sketch
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    mutated = docs.withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, None).otherwise(F.col("lang"))
    )
    diff = sketch.profile_diff(
        sketch.table_profile(docs), sketch.table_profile(mutated)
    )
    out = {r["column"]: r for r in diff.collect()}
    assert out["lang"]["flags"] == "null_shift" and out["lang"]["flagged"]
    assert not out["doc_id"]["flagged"] and not out["source"]["flagged"]


def test_group_quantiles_exact_ranks(spark):
    """Quantile values are the elements at rank ceil(q*n) — hand
    computed, per group, duplicates and NULLs handled; P100 is the
    max; invalid q raises."""
    from cdc_pipeline_with_kafka_spark.operators import sketch

    rows = [("a", float(v)) for v in [5, 1, 3, 2, 4]] + [
        ("b", 10.0), ("b", 20.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["g"], r["q_ppm"]): r["quantile_value"]
           for r in sketch.group_quantiles(
               df, "v", ["g"], (250_000, 500_000, 1_000_000)).collect()}
    # group a (n=5): ceil(.25*5)=2 -> 2.0; ceil(.5*5)=3 -> 3.0; P100 -> 5.0
    # group b (n=2): ceil(.25*2)=1 -> 10.0; ceil(.5*2)=1 -> 10.0; P100 -> 20.0
    assert out == {
        ("a", 250_000): 2.0, ("a", 500_000): 3.0, ("a", 1_000_000): 5.0,
        ("b", 250_000): 10.0, ("b", 500_000): 10.0, ("b", 1_000_000): 20.0,
    }
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sketch.group_quantiles(df, "v", ["g"], (0,))
    with _pytest.raises(ValueError):
        sketch.group_quantiles(df, "v", ["g"], ())


def test_equi_depth_histogram_exact_guardrail_and_native_types(spark):
    """r9: (1) the exact path WARNS past EXACT_HIST_WARN_BUCKETS
    (m-1 TakeOrdered scans — approx=True is the scale form, and stays
    silent); (2) exact boundaries stay in the column's NATIVE type:
    longs above 2^53 collapse under a double round-trip, which would
    let ties straddle boundaries and empty out buckets."""
    import warnings as _w

    import pytest as _pytest

    base = 1 << 60  # adjacent values indistinguishable as doubles
    df = spark.createDataFrame(
        [(base + i,) for i in range(4)], "v long"
    )
    with _w.catch_warnings():
        _w.simplefilter("error")  # no warning at small bucket counts
        out = {
            r["bucket"]: r
            for r in sketch.equi_depth_histogram(df, "v", 2).collect()
        }
    assert [out[b]["n_rows"] for b in sorted(out)] == [2, 2]

    wide = spark.createDataFrame(
        [(float(i),) for i in range(200)], "v double"
    )
    with _pytest.warns(UserWarning, match="TakeOrdered"):
        sketch.equi_depth_histogram(wide, "v", 40)
    with _w.catch_warnings():
        _w.simplefilter("error")  # approx path never warns
        sketch.equi_depth_histogram(wide, "v", 40, approx=True).collect()


def test_corr_matrix_exact_moments_and_edge_cases(spark):
    """One-pass pairwise Pearson: exact decimal co-moments match a
    pure-Python replay on the quantized integers, corr matches the
    closed form (perfect +1/−1 planted), pairwise-complete NULL
    semantics, zero-variance pairs yield NULL, and the plan is one
    partial-aggregated job with no shuffle-heavy shape."""
    from decimal import Decimal

    from cdc_pipeline_with_kafka_spark import plans
    from cdc_pipeline_with_kafka_spark.operators import sketch as S

    rows = [
        (1.0, 2.0, -1.0, 7.0),
        (2.0, 4.0, -2.0, 7.0),
        (3.0, 6.0, -3.0, 7.0),
        (4.0, 8.0, -4.0, 7.0),
        (None, 10.0, -5.0, 7.0),   # pairwise-complete: a-pairs skip
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double, k double")
    out = {
        (r["col_x"], r["col_y"]): r
        for r in S.corr_matrix(df, ["a", "b", "c", "k"]).collect()
    }
    assert len(out) == 6
    assert abs(out[("a", "b")]["corr"] - 1.0) < 1e-12   # perfect +
    assert abs(out[("a", "c")]["corr"] + 1.0) < 1e-12   # perfect −
    assert out[("a", "k")]["corr"] is None              # zero variance
    assert out[("a", "b")]["n"] == 4 and out[("b", "c")]["n"] == 5

    # exact co-moment replay on the quantized integers
    qa = [round(v * 1e6) for v in (1.0, 2.0, 3.0, 4.0)]
    qb = [round(v * 1e6) for v in (2.0, 4.0, 6.0, 8.0)]
    r = out[("a", "b")]
    assert r["sum_x"] == Decimal(sum(qa))
    assert r["sum_y"] == Decimal(sum(qb))
    assert r["sum_xy"] == Decimal(sum(x * y for x, y in zip(qa, qb)))
    assert r["sum_xx"] == Decimal(sum(x * x for x in qa))

    plan = plans.formatted_plan(S.corr_matrix(df, ["a", "b"]))
    assert "Join" not in plan and "Window" not in plan
    assert plans.has_partial_aggregation(S.corr_matrix(df, ["a", "b"]))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.corr_matrix(df, ["a"])
    with _pytest.raises(ValueError):
        S.corr_matrix(df, ["a", "b"], micro=0)


def test_hll_rollup_range_estimate_dedupes_across_buckets(spark):
    """The sketch rollup's range query must DEDUPE a key active in
    several buckets (the thing additive counter tables can't do) and
    equal the exact distinct count at sparse-sketch cardinality;
    half-open range semantics on bucket starts."""
    rows = []
    # user u appears in hours 0,1,2; users 100+h only in hour h
    for h in range(4):
        rows.append((1, f"2024-01-01 0{h}:15:00"))
        rows.append((100 + h, f"2024-01-01 0{h}:45:00"))
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    roll = sketch.hll_rollup(df, "user_id", "ts", "hour")
    assert roll.count() == 4  # one sketch row per hour
    est = sketch.hll_range_estimate(
        roll, "2024-01-01 00:00:00", "2024-01-01 03:00:00"
    ).first()
    # hours 0-2: user 1 (deduped across 3 buckets) + 100,101,102
    assert est["n_distinct"] == 4
    full = sketch.hll_range_estimate(
        roll, "2024-01-01 00:00:00", "2024-01-01 04:00:00"
    ).first()
    assert full["n_distinct"] == 5
    # half-open: end at 01:00 excludes hour-1's bucket
    first_only = sketch.hll_range_estimate(
        roll, "2024-01-01 00:00:00", "2024-01-01 01:00:00"
    ).first()
    assert first_only["n_distinct"] == 2


def test_validate_rules_one_scan_contract(spark):
    """Rule violations = FALSE or NULL rows (a NULL predicate must
    not pass), exact ppm, one single-aggregate scan (no join, no
    shuffle key), empty-rules rejection."""
    import pytest as _pytest

    from cdc_pipeline_with_kafka_spark import plans

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -5.0, "B"), (3, None, "A"), (4, 8.0, "Z")],
        "id long, v double, s string",
    )
    out = {
        r["rule"]: r
        for r in sketch.validate_rules(df, {
            "v_positive": "v > 0",
            "s_known": "s IN ('A', 'B')",
            "id_present": "id IS NOT NULL",
        }).collect()
    }
    # v > 0: row2 FALSE, row3 NULL -> both violate
    assert out["v_positive"]["n_violations"] == 2
    assert out["v_positive"]["violation_ppm"] == 500_000
    assert not out["v_positive"]["passed"]
    assert out["s_known"]["n_violations"] == 1
    assert out["id_present"]["passed"] and out["id_present"]["n_violations"] == 0
    assert all(r["n_rows"] == 4 for r in out.values())
    q = sketch.validate_rules(df, {"a": "v > 0"})
    plan = plans.formatted_plan(q)
    assert "Join" not in plan and "Window" not in plan
    assert plans.has_partial_aggregation(q)
    with _pytest.raises(ValueError):
        sketch.validate_rules(df, {})


def test_winsorize_clamps_at_exact_rank_cuts(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    import pyspark.sql.functions as F
    rows = [("g", float(v)) for v in range(1, 11)] + [("g", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = K.winsorize(df, "v", ["g"], 200_000, 800_000)
    got = {r["v"]: r["value_w"] for r in out.collect()}
    # cuts at rank ceil(.2·10)=2 → 2.0 and ceil(.8·10)=8 → 8.0
    assert got[1.0] == 2.0 and got[2.0] == 2.0
    assert got[5.0] == 5.0
    assert got[8.0] == 8.0 and got[10.0] == 8.0
    assert got[None] is None
    # cut values are actual data values
    assert set(v for v in got.values() if v is not None) <= set(
        float(x) for x in range(2, 9))


def test_winsorize_broadcast_join_no_row_shuffle(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    rows = [("g", float(v)) for v in range(20)]
    df = spark.createDataFrame(rows, "g string, v double")
    plan = K.winsorize(df, "v", ["g"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_winsorize_arg_guard(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    import pytest as _pt
    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    with _pt.raises(ValueError):
        K.winsorize(df, "v", ["g"], 0, 500_000)
    with _pt.raises(ValueError):
        K.winsorize(df, "v", ["g"], 600_000, 500_000)


def test_quantile_normalize_maps_group_onto_reference(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    # two groups on wildly different scales; reference = pooled
    rows = [("a", float(v)) for v in range(1, 11)] \
        + [("b", float(v * 100)) for v in range(1, 11)] + [("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["g"], r["v"]): r["value_qn"] for r in
           K.quantile_normalize(df, "v", ["g"], n_cuts=10).collect()}
    # pooled reference has 20 values; every output is an ACTUAL
    # pooled value, monotone within each group, nulls pass through
    pooled = set(float(v) for v in range(1, 11)) \
        | set(float(v * 100) for v in range(1, 11))
    assert out[("b", None)] is None
    non_null = {k: v for k, v in out.items() if v is not None}
    assert set(non_null.values()) <= pooled
    bvals = [out[("b", float(v * 100))] for v in range(1, 11)]
    assert bvals == sorted(bvals)
    # the two groups now live on the SAME scale: min of a maps where
    # min of b maps (both pct 0 → first grid cell)
    assert out[("a", 1.0)] == out[("b", 100.0)]
    assert out[("a", 10.0)] == out[("b", 1000.0)] == 1000.0


def test_quantile_normalize_external_reference_and_guard(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    import pytest as _pt
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 6)], "g string, v double")
    ref = spark.createDataFrame(
        [(float(v),) for v in (10.0, 20.0, 30.0, 40.0, 50.0)], "v double")
    out = {r["v"]: r["value_qn"] for r in
           K.quantile_normalize(df, "v", ["g"], reference=ref,
                                n_cuts=5).collect()}
    assert out[1.0] == 10.0 and out[3.0] == 30.0 and out[5.0] == 50.0
    with _pt.raises(ValueError, match="divide"):
        K.quantile_normalize(df, "v", ["g"], n_cuts=7)


def test_quantile_normalize_broadcast_cut_join(spark):
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    df = spark.createDataFrame(
        [("g", float(v)) for v in range(100)], "g string, v double")
    plan = K.quantile_normalize(df, "v", ["g"], n_cuts=100) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_quantile_normalize_scalable_rank_identical(spark, monkeypatch):
    """r13 (VERDICT r12 #5): the range-partitioned reference rank
    (the 100 TB form) must emit row-for-row what the single-window
    rank emits — ties, NULLs, external reference and all — because
    any rank assignment consistent with the value order maps
    rank→value identically.  Each form is forced by moving the
    QN_RANGE_RANK_BYTES size pivot."""
    import random

    from cdc_pipeline_with_kafka_spark.operators import sketch as K

    rng = random.Random(13)
    rows = [
        (rng.choice("ab"), rng.choice([None] + [float(v) for v in range(30)]))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    with monkeypatch.context() as m:
        m.setattr(K, "QN_RANGE_RANK_BYTES", 1 << 62)
        small = K.quantile_normalize(df, "v", ["g"], n_cuts=100)
        m.setattr(K, "QN_RANGE_RANK_BYTES", -1)
        big = K.quantile_normalize(df, "v", ["g"], n_cuts=100)
    from collections import Counter

    assert Counter(map(tuple, small.collect())) == \
        Counter(map(tuple, big.collect()))
    # the offs and ranked legs must share ONE executed range
    # partitioning (AQE stage reuse) — offsets from one sampling
    # applied to another sampling's partition ids would mis-rank
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    n_range = sum(
        1 for line in final.splitlines()
        if "Exchange rangepartitioning" in line and "Reused" not in line
    )
    assert n_range == 1, final
    # auto mode: a small parquet-backed reference (every gate SF)
    # estimates under the pivot → keeps the single-window form; an
    # unknown-size source estimates huge → conservative scalable form
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert K._estimated_bytes(ev) < K.QN_RANGE_RANK_BYTES
    assert K._estimated_bytes(df) >= K.QN_RANGE_RANK_BYTES


def test_mode_by_group_exact_counts_and_tiebreak(spark):
    """Top-k modes per group vs a Counter oracle: exact counts,
    deterministic (count desc, value asc) tie-break, NULLs excluded,
    exact integer share_ppm, k past the vocabulary returns all."""
    import random
    from collections import Counter

    from cdc_pipeline_with_kafka_spark.operators import sketch as K

    rng = random.Random(77)
    rows = [
        (rng.choice("wxyz"), rng.choice(["a", "b", "c", "d", None]))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = sorted(
        tuple(r) for r in K.mode_by_group(df, "v", ["g"], k=2).collect()
    )
    byg: dict[str, Counter] = {}
    for g, v in rows:
        if v is not None:
            byg.setdefault(g, Counter())[v] += 1
    exp = []
    for g, c in byg.items():
        tot = sum(c.values())
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        for rk, (v, n) in enumerate(ranked[:2], 1):
            exp.append((g, v, n, rk, n * 1_000_000 // tot))
    assert got == sorted(exp)
    assert K.mode_by_group(df, "v", ["g"], k=99).count() == sum(
        len(c) for c in byg.values()
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="k must"):
        K.mode_by_group(df, "v", ["g"], k=0)


def test_mode_by_group_plan_two_keyed_shuffles(spark):
    """Shuffle contract: one (group, value) aggregate exchange + one
    group-keyed window exchange, nothing single-partition."""
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    from cdc_pipeline_with_kafka_spark.util import assert_plan

    df = spark.createDataFrame(
        [("x", "a"), ("x", "a"), ("x", "b"), ("y", "c")],
        "g string, v string",
    )
    assert_plan(
        K.mode_by_group(df, "v", ["g"]),
        exchanges=2,
        single_partition_exchanges=0,
        nested_loop_joins=0,
    )


def test_join_size_estimate_replay_and_bounds(spark):
    """CMS inner-product join-size estimate vs a pure-Python md5
    replay: every hash row's inner product exact, the summary row is
    the min, the estimate upper-bounds the true join size, and
    width=1 degenerates to |A|·|B| (all keys collide)."""
    import hashlib
    import random
    from collections import Counter

    from cdc_pipeline_with_kafka_spark.operators import sketch as K

    rng = random.Random(3)
    A = [rng.randint(0, 40) for _ in range(500)] + [None] * 3
    B = [rng.randint(0, 60) for _ in range(300)]
    da = spark.createDataFrame([(x,) for x in A], "k int")
    db = spark.createDataFrame([(x,) for x in B], "k int")
    width, depth = 256, 4
    out = {
        r.hash_row: r.inner_product
        for r in K.join_size_estimate(
            da, db, "k", width=width, depth=depth
        ).collect()
    }
    ca = Counter(x for x in A if x is not None)
    cb = Counter(B)
    for i in range(depth):
        ra: Counter = Counter()
        rb: Counter = Counter()
        for k, c in ca.items():
            h = hashlib.md5(f"jse:{i}:{k}".encode()).hexdigest()
            ra[int(h[:8], 16) % width] += c
        for k, c in cb.items():
            h = hashlib.md5(f"jse:{i}:{k}".encode()).hexdigest()
            rb[int(h[:8], 16) % width] += c
        assert out[i] == sum(ra[b] * rb.get(b, 0) for b in ra)
    exact = sum(ca[k] * cb.get(k, 0) for k in ca)
    assert out[-1] == min(out[i] for i in range(depth)) >= exact
    o1 = {
        r.hash_row: r.inner_product
        for r in K.join_size_estimate(da, db, "k", width=1, depth=2).collect()
    }
    assert o1[-1] == (len(A) - 3) * len(B)
    import pytest as _pt

    with _pt.raises(ValueError, match="width"):
        K.join_size_estimate(da, db, "k", width=0)


def test_join_size_estimate_plan_bounded_shuffles(spark):
    """The per-side shuffle is (hash_row, bucket) partials with
    map-side combine — partial aggregation present, no single
    partition exchange, no nested loop."""
    from cdc_pipeline_with_kafka_spark.operators import sketch as K
    from cdc_pipeline_with_kafka_spark.util import assert_plan

    da = spark.createDataFrame([(1,), (2,)], "k int")
    facts = assert_plan(
        K.join_size_estimate(da, da, "k", width=64, depth=3),
        nested_loop_joins=0,
    )
    assert facts["hash_aggregates"] >= 4  # partial+final per side


def test_json_key_profile_edges_vs_python_replay(spark):
    """Per-key presence/type/cardinality vs a pure-Python json
    replay, including the edge bucket contract: top-level arrays,
    scalars, bare 'null' and broken strings all count
    '__malformed__'; NULL inputs count '__null__'; every input row
    is accounted for."""
    import json
    from collections import defaultdict

    from cdc_pipeline_with_kafka_spark.operators import sketch as K

    rows = [
        ('{"a": 1, "b": "x", "c": null, "d": {"e": 2}, '
         '"f": [1,2], "g": true}',),
        ('{"a": 2.5, "b": ""}',),
        ('{"a": "7"}',),  # string "7" is numeric-LIKE by contract
        (None,), ("not json",), ("[1,2]",), ("null",), ("42",),
    ]
    df = spark.createDataFrame(rows, "j string")
    got = {r.key: tuple(r)[1:] for r in K.json_key_profile(df, "j").collect()}
    valid = []
    for (s,) in rows:
        if s is None:
            continue
        try:
            o = json.loads(s)
            if isinstance(o, dict):
                valid.append(o)
        except ValueError:
            pass
    assert got["__null__"][0] == 1 and got["__malformed__"][0] == 4
    agg: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 0, set()])
    for o in valid:
        for k, v in o.items():
            a = agg[k]
            a[0] += 1
            if v is None:
                a[1] += 1
                continue
            sv = (
                v if isinstance(v, str)
                else json.dumps(v, separators=(",", ":"))
            )
            try:
                float(sv)
                a[2] += 1
            except ValueError:
                pass
            a[3] += sv in ("true", "false")
            a[4] += sv.startswith("{")
            a[5] += sv.startswith("[")
            a[6].add(sv)
    for k, a in agg.items():
        assert got[k] == (
            a[0], a[1], a[2], a[3], a[4], a[5], len(a[6]),
            a[0] * 1_000_000 // len(valid),
        ), k
    # row accounting: Σ per-key n_present ≤ keys·valid; totals exact
    assert sum(1 for k in got if not k.startswith("__")) == len(agg)
