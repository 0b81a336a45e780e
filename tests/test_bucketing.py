"""Bucketed co-located joins: same-bucketed tables must join without
a shuffle (the 100 TB repeated-join strategy)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc_pipeline_with_kafka_spark import plans
from cdc_pipeline_with_kafka_spark.sources import bucketing

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    bucketing.write_bucketed(
        orders, "orders_b", "o_orderkey", num_buckets=8, path=str(warehouse / "orders_b")
    )
    bucketing.write_bucketed(
        lineitem, "lineitem_b", "o_orderkey", num_buckets=8,
        path=str(warehouse / "lineitem_b"),
    )
    yield spark
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_no_shuffle(bucketed_tables):
    spark = bucketed_tables
    # disable broadcast so the join strategy is the bucketed SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketing.bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey")
        plan = plans.formatted_plan(joined)
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # correctness: same result as the plain join
        plain = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").join(
            spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "o_orderkey",
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_write_partitioned_prunes_directories(spark, tmp_path):
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.plans import explain_str
    from cdc_pipeline_with_kafka_spark.sources import bucketing
    from cdc_pipeline_with_kafka_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    bucketing.write_partitioned(
        ev, path, ["day"], sort_cols=["ts"], max_records_per_file=100_000
    )
    n_days = ev.select("day").distinct().count()
    assert n_days > 1
    one_day = ev.select(F.max("day")).first()[0]
    pruned = bucketing.read_pruned(spark, path).filter(F.col("day") == F.lit(one_day))
    plan = explain_str(pruned)
    # the day predicate must lower to a PartitionFilter (directory
    # pruning), not a post-scan Filter
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]
    assert pruned.count() == ev.filter(F.col("day") == F.lit(one_day)).count()


def test_compact_partition_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.sources import bucketing
    from cdc_pipeline_with_kafka_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_small_files")
    # many writer tasks → each emits its own small file per day dir
    bucketing.write_partitioned(ev.repartition(8), path, ["day"])
    day = str(ev.select(F.max("day")).first()[0])
    day_rows = ev.filter(F.col("day") == day).count()
    before = len(glob.glob(f"{path}/day={day}/*.parquet"))
    assert before > 1
    n = bucketing.compact_partition(spark, path, "day", day, target_files=1)
    after = len(glob.glob(f"{path}/day={day}/*.parquet"))
    assert after == 1 and n == day_rows
    # table still reads whole and partition-pruned
    assert spark.read.parquet(path).filter(F.col("day") == F.lit(day)).count() == day_rows


def _morton_py(vals: list[int], bits: int) -> int:
    z = 0
    for c_idx, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * len(vals) + c_idx)
    return z


def test_zorder_value_matches_python_morton(spark):
    from cdc_pipeline_with_kafka_spark.sources import bucketing

    df = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("bigint").alias("y")
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y",
            bucketing.zorder_value([F.col("x"), F.col("y")], bits=4).alias("z"),
        ).collect()
    }
    for (x, y), z in got.items():
        assert z == _morton_py([x, y], 4)
    # the curve is a bijection on the grid
    assert len(set(got.values())) == 256


def test_scale_for_zorder_clamps_and_is_exact(spark):
    from cdc_pipeline_with_kafka_spark.sources import bucketing

    df = spark.createDataFrame(
        [(v,) for v in [-5, 0, 50, 100, 999]], "v long"
    )
    got = [
        r["s"]
        for r in df.select(
            bucketing.scale_for_zorder(F.col("v"), 0, 100, bits=8).alias("s")
        ).orderBy("s").collect()
    ]
    # -5 and 999 clamp to the ends; 50 maps to (50*255)//100 = 127
    assert got == [0, 0, 127, 255, 255]


def test_write_zordered_clusters_2d_box_into_few_files(spark, tmp_path):
    """The data-skipping claim, measured: a 2-D box predicate's rows
    must concentrate in a small fraction of z-ordered files while a
    hash-scattered layout spreads them across ~all files (parquet
    min/max footer stats then skip what the rows avoid)."""
    from cdc_pipeline_with_kafka_spark.sources import bucketing

    n, files = 20_000, 32
    df = spark.range(0, n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 2654435761) % 141).alias("y"),
    )
    z_path, lin_path = str(tmp_path / "zord"), str(tmp_path / "linear")
    bucketing.write_zordered(df, z_path, ["x", "y"], bits=8, num_files=files)
    df.repartition(files).write.parquet(lin_path)

    def files_hit(path):
        d = spark.read.parquet(path).filter(
            (F.col("x").between(10, 27)) & (F.col("y").between(10, 27))
        )
        return d.select(F.input_file_name()).distinct().count()

    z_hit, lin_hit = files_hit(z_path), files_hit(lin_path)
    assert lin_hit >= files * 3 // 4  # scattered layout touches ~all
    assert z_hit * 4 <= lin_hit  # z-order concentrates the box
    # layout must not lose or duplicate rows
    assert spark.read.parquet(z_path).count() == n


def test_lake_report_flags_small_file_partitions(spark, tmp_path):
    """A partition fragmented into many tiny files flags for
    compaction; a single-file partition does not; compact_partition
    clears the flag."""
    from pyspark.sql import functions as F

    from cdc_pipeline_with_kafka_spark.sources import bucketing

    path = str(tmp_path / "lake")
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 2).alias("p")
    )
    df.filter("p = 0").repartition(20).write.parquet(f"{path}/p=0")
    df.filter("p = 1").coalesce(1).write.parquet(f"{path}/p=1")
    # an aborted write's attempt files, inside a partition and at the
    # root: a scan ignores them, so the report must too
    import glob
    import os
    import shutil

    part = glob.glob(f"{path}/p=1/part-*")[0]
    for attempt in (f"{path}/p=1/_temporary/0/_temporary/attempt_0",
                    f"{path}/_temporary/0/_temporary/attempt_0"):
        os.makedirs(attempt)
        shutil.copy(part, attempt)
    rep = {
        r["partition"]: r
        for r in bucketing.lake_report(
            spark, path, small_file_mb=16, max_files=10
        ).collect()
    }
    assert rep["p=0"]["n_files"] == 20 and rep["p=0"]["needs_compaction"]
    assert rep["p=1"]["n_files"] == 1
    assert sorted(rep) == ["p=0", "p=1"]
    assert rep["p=0"]["total_bytes"] > 0
    n = bucketing.compact_partition(spark, path, "p", 0, target_files=1)
    assert n == 1000
    rep2 = {
        r["partition"]: r
        for r in bucketing.lake_report(
            spark, path, small_file_mb=0, max_files=10
        ).collect()
    }
    assert rep2["p=0"]["n_files"] == 1 and not rep2["p=0"]["needs_compaction"]


class _Crash(Exception):
    pass


@pytest.mark.parametrize("state", ["tmp_incomplete", "tmp_complete", "old_deleted"])
def test_compact_partition_crash_restores_partition(spark, tmp_path, monkeypatch, state):
    """A compact_partition that crashes mid-swap never shows its staging
    dirs as partition values, and the next call restores the
    partition's rows: a crash before the old dir is deleted, with the
    rewrite unfinished ("tmp_incomplete") or complete ("tmp_complete"),
    or after the delete, before the rename ("old_deleted")."""
    import os
    import shutil

    path = str(tmp_path / "lake")
    spark.range(40).select(F.col("id"), (F.col("id") % 2).alias("p")).repartition(
        4
    ).write.partitionBy("p").parquet(path)

    def rows():
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    want = rows()

    def crash(*args, **kwargs):
        raise _Crash(args)

    if state == "old_deleted":
        monkeypatch.setattr(os, "rename", crash)
    else:
        monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(_Crash):
        bucketing.compact_partition(spark, path, "p", 0)
    monkeypatch.undo()
    if state == "tmp_incomplete":
        for d in os.listdir(path):
            if "_compact" in d and os.path.exists(os.path.join(path, d, "_SUCCESS")):
                os.remove(os.path.join(path, d, "_SUCCESS"))
                os.mkdir(os.path.join(path, d, "_temporary"))
    values = {r["p"] for r in spark.read.parquet(path).select("p").distinct().collect()}
    assert not [v for v in values if "_compact" in str(v)]
    assert rows() == [r for r in want if state != "old_deleted" or r[1] != 0]
    assert bucketing.compact_partition(spark, path, "p", 0) == 20
    assert rows() == want
    assert len([f for f in os.listdir(f"{path}/p=0") if f.startswith("part-")]) == 1
    assert not [d for d in os.listdir(path) if "_compact" in d]
