"""Partition-aware MERGE: only touched partitions rewritten; replay
idempotent; untouched partitions byte-stable."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark.sources import cdc
from cdc_pipeline_with_kafka_spark.streaming import sinks

from .fixtures import make_articles, make_cdc_events


def _batch(spark, arts):
    events = make_cdc_events(arts)
    raw = spark.createDataFrame(
        [(e["key"], e["value"], e["kafka_ts"]) for e in events],
        "key string, value string, kafka_ts string",
    )
    return cdc.parse_envelope(raw)


def _merge(spark, batch, target, **kw):
    sinks.merge_upsert(spark, batch, target, partition_col="stored_date", **kw)


def _state(spark, path):
    return sorted(
        (r["id"], r["title"], bool(r["is_deleted"]))
        for r in spark.read.parquet(path).select("id", "title", "is_deleted").collect()
    )


def test_partitioned_merge_idempotent_and_partitioned(spark, tmp_path):
    target = str(tmp_path / "t")
    arts = make_articles(150)
    batch = _batch(spark, arts)
    _merge(spark, batch, target)
    parts = sorted(p for p in os.listdir(target) if p.startswith("stored_date="))
    assert len(parts) >= 1  # event-day partitions exist
    state1 = _state(spark, target)
    # replay: identical state
    _merge(spark, batch, target)
    assert _state(spark, target) == state1
    # one row per key
    df = spark.read.parquet(target)
    assert df.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def _op_batch(spark, arts, op):
    """Craft a batch of a single op type (delete batches need explicit
    before-images; make_cdc_events randomizes ops)."""
    import json
    from datetime import datetime

    events = []
    for art in arts:
        ts = datetime.fromisoformat(art["published_at"])
        ts_ms = int((ts - datetime(1970, 1, 1)).total_seconds() * 1000)
        payload = {
            "op": op,
            "before": art if op in ("u", "d") else None,
            "after": None if op == "d" else art,
            "source": {"table": "articles"},
            "ts_ms": ts_ms,
        }
        events.append((str(art["id"]), json.dumps({"payload": payload}, ensure_ascii=False), ts.isoformat()))
    raw = spark.createDataFrame(events, "key string, value string, kafka_ts string")
    return cdc.parse_envelope(raw)


def test_partitioned_merge_hard_delete_removes_rows(spark, tmp_path):
    target = str(tmp_path / "t3")
    arts = make_articles(60)
    _merge(spark, _op_batch(spark, arts, "c"), target, soft_delete=False)
    assert spark.read.parquet(target).count() == 60
    doomed = arts[:7]
    _merge(spark, _op_batch(spark, doomed, "d"), target, soft_delete=False)
    remaining = {r["id"] for r in spark.read.parquet(target).select("id").collect()}
    assert remaining == {a["id"] for a in arts[7:]}
    # replay the delete batch: idempotent
    _merge(spark, _op_batch(spark, doomed, "d"), target, soft_delete=False)
    assert {r["id"] for r in spark.read.parquet(target).select("id").collect()} == remaining


def test_partitioned_merge_soft_delete_marks_rows(spark, tmp_path):
    target = str(tmp_path / "t4")
    arts = make_articles(60)
    for a in arts:
        a["is_deleted"] = False
    _merge(spark, _op_batch(spark, arts, "c"), target)
    doomed = arts[:7]
    _merge(spark, _op_batch(spark, doomed, "d"), target)
    df = spark.read.parquet(target)
    assert df.count() == 60  # soft delete keeps the rows
    marked = {r["id"] for r in df.filter(F.col("is_deleted")).select("id").collect()}
    assert marked == {a["id"] for a in doomed}


def test_merge_upsert_cleans_tmp_dir(spark, tmp_path):
    target = str(tmp_path / "t5")
    arts = make_articles(20)
    sinks.merge_upsert(spark, _op_batch(spark, arts, "c"), target)
    assert os.path.exists(target)
    assert not os.path.exists(target + "._tmp")


def test_partitioned_merge_only_touches_batch_partitions(spark, tmp_path):
    target = str(tmp_path / "t2")
    arts = make_articles(150)
    _merge(spark, _batch(spark, arts), target)
    # record mtimes of all partition dirs
    def mtimes():
        return {
            p: os.path.getmtime(os.path.join(target, p))
            for p in os.listdir(target)
            if p.startswith("stored_date=")
        }

    before = mtimes()
    # second batch touching only ONE stored_date
    one_day = [a for a in arts if a["stored_date"] == arts[0]["stored_date"]][:5]
    for a in one_day:
        a["title"] = a["title"] + " 수정"
    import time

    time.sleep(1.1)  # mtime resolution
    _merge(spark, _batch(spark, one_day), target)
    after = mtimes()
    touched = {p for p in before if after[p] != before[p]}
    assert touched == {f"stored_date={arts[0]['stored_date']}"}
