"""W7 decay-window stateful operator (applyInPandasWithState) and the
true-sliding-window alternative (SURVEY.md §2.5 W7, §2.8 T2)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.operators import windows
from cdc_pipeline_with_kafka_spark.streaming import decay


def test_sliding_window_counts_batch(spark):
    base = datetime(2024, 3, 1)
    rows = [("kw", base + timedelta(minutes=m)) for m in range(0, 60, 5)]
    df = spark.createDataFrame(rows, "keyword string, ts timestamp_ntz")
    out = windows.windowed_count(df, "ts", "keyword", "30 minutes", "10 minutes")
    got = {
        (r["window_start"].isoformat(), r["cnt"]) for r in out.collect()
    }
    # each event lands in 3 sliding windows; a full 30-min window holds 6 events
    assert ("2024-03-01T00:00:00", 6) in got


def test_decayed_counts_streaming(spark, tmp_path):
    """Replay a keyword stream spanning 3 windows: counts must halve
    per elapsed window per the reference's schedule
    (realtime_keyword_aggregator.py:94-116)."""
    base = datetime(2024, 3, 1)
    events = []
    # burst of 8 events in window 0, then silence, then 1 event 61 min later
    for i in range(8):
        events.append({"keyword": "hot", "ts": (base + timedelta(minutes=i)).isoformat()})
    events.append({"keyword": "hot", "ts": (base + timedelta(minutes=61)).isoformat()})
    # a keyword that stays tiny → decays to zero and its state is removed
    events.append({"keyword": "cold", "ts": base.isoformat()})

    src = tmp_path / "stream"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")

    stream = (
        spark.readStream.schema("keyword string, ts string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = decay.decayed_counts(stream, window="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("decay_test")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {r["keyword"]: r["cnt"] for r in spark.sql("SELECT * FROM decay_test").collect()}
    # hot: 9 events arrive in one batch spanning 61 min → 9 total, two
    # halvings elapsed (61 min / 30 min): 9*0.5*0.5 = 2.25
    assert rows["hot"] == 2.25
    assert rows.get("cold", 1.0) == 1.0  # single event, no window elapsed
