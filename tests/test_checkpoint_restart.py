"""T5: checkpointed restart — a stopped streaming replication query
resumed with the same checkpoint must process each event exactly once
(no duplicates, no gaps), composing with the idempotent MERGE sink."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.sources import cdc
from cdc_pipeline_with_kafka_spark.streaming import sinks

from .fixtures import cdc_events_of, make_articles, make_cdc_events, replay_cdc


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    arts = make_articles(120)
    events = make_cdc_events(arts)
    half = len(events) // 2
    src = tmp_path / "log"
    src.mkdir()
    target = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        raw = spark.readStream.schema(
            "key string, value string, kafka_ts string"
        ).json(str(src))
        parsed = cdc.parse_envelope(raw.selectExpr("CAST(value AS STRING) AS value"))
        q = (
            parsed.writeStream.foreachBatch(sinks.make_merge_sink(target, key="id"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # phase 1: first half
    with open(src / "a.json", "w") as fh:
        for e in events[:half]:
            fh.write(json.dumps(e, ensure_ascii=False) + "\n")
    run_stream()
    state1 = spark.read.parquet(target).count()
    assert state1 > 0

    # phase 2: restart with second half added — checkpoint must skip
    # the already-processed file
    with open(src / "b.json", "w") as fh:
        for e in events[half:]:
            fh.write(json.dumps(e, ensure_ascii=False) + "\n")
    run_stream()

    replica = spark.read.parquet(target)
    # one row per key, and every upserted key present
    assert replica.groupBy("id").count().filter(F.col("count") > 1).count() == 0
    raw_all = spark.createDataFrame(
        [(e["value"],) for e in events], "value string"
    )
    expected_keys = set(replay_cdc({}, cdc_events_of(cdc.parse_envelope(raw_all))))
    got_keys = {r["id"] for r in replica.select("id").collect()}
    assert expected_keys <= got_keys

    # phase 3: restart with NO new data — must be a no-op (exactly-once)
    before = sorted((r["id"], r["title"]) for r in replica.select("id", "title").collect())
    run_stream()
    after = sorted(
        (r["id"], r["title"])
        for r in spark.read.parquet(target).select("id", "title").collect()
    )
    assert before == after
