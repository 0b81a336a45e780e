"""foreachBatch MERGE sink (SURVEY.md §2.1 S9-S10, §2.8 T5, §3.4).

The reference's SyncService replicates CDC into MySQL row by row:
``INSERT ... ON DUPLICATE KEY UPDATE`` for c/r/u, ``UPDATE ... SET
is_deleted=TRUE`` for deletes on articles and ``DELETE`` on media
(targetDB1/SyncService.py:87-146,255-283).  At-least-once delivery is
effectively-once because replaying a batch is idempotent.

Spark-first: one `merge_upsert` applies a whole micro-batch as a
keyed parquet rewrite (no Delta/Iceberg runtime here; on a lakehouse
table format its body is one ``MERGE INTO`` under the same contract).

Contract: after each batch the target equals the result of applying
that batch's events one at a time in (``ts``, op rank c/r < u < d)
order with SyncService's rules: c/r/u upserts the after-image; d with
``soft_delete`` sets ``is_deleted=true`` on the row as it stands at
that point of the batch and writes nothing when no row exists; d
without it removes the row.  The before-image is never written, so a
key-only before-image (Debezium's default replica identity) deletes
as well as a full one.  Two events of one key with equal ts and equal
rank have no defined order.  Replaying a batch on its own result
changes nothing, which is what makes checkpoint replay safe.

Crash windows.  Whole-table target: the merge is staged in
``<target>._tmp`` and copied over the target; ``._tmp`` is deleted
only after that copy, so a complete ``._tmp`` (one with ``_SUCCESS``)
is the last merge's state and the replay reads it in place of a
half-written target.  Partitioned target: the write is a dynamic
partition overwrite, whose job commit deletes each rewritten partition
and then renames its new files in.  A crash between the two loses that
partition's rows the batch did not touch; the replay cannot restore
them.  Readers of the raw path can see either rewrite half done.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem of `path`, Path constructor): existence checks
    and deletes that work on every URI the reader accepts."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    return jpath(path).getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def merge_upsert(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    key: str = "id",
    partition_col: str | None = None,
    soft_delete: bool = True,
) -> None:
    """S9/S10: apply a CDC micro-batch (op, before, after, ts) to the
    parquet table at `target_path` under the module's contract.

    Without `partition_col` the whole table is rewritten.  With it,
    only the partitions that can change are: those of the rows the
    batch writes, plus those where the target holds one of the batch's
    keys (a key that moves partition, a delete whose before-image has
    no partition value).  A partition left empty is deleted.  The
    rewrite then follows the touched partitions, not the table; finding
    them reads the key and partition columns of the whole table.

    The target is absent when the Hadoop FileSystem says so (a
    partitioned one also when it holds no partition dir: every row was
    deleted, or its first write never committed one); a target that
    exists but cannot be read raises."""
    fs, path = _fs(spark, target_path)
    tmp = f"{target_path}._tmp"
    src = tmp if partition_col is None and fs.exists(path(f"{tmp}/_SUCCESS")) else target_path
    # a partitioned target with no partition dir left is an empty table
    held = fs.exists(path(src)) and (partition_col is None or any(
        st.getPath().getName().startswith(f"{partition_col}=") for st in fs.listStatus(path(src))
    ))
    base = spark.read.parquet(src) if held else None

    # the order one key's events apply in: event time, then c/r < u < d
    order = F.struct("ts", F.when(F.col("op") == "d", 3).when(F.col("op") == "u", 2).otherwise(1))
    latest = (
        batch.filter(
            (F.col("op") == "d") | (F.col("op").isin("c", "r", "u") & F.col("after").isNotNull())
        )
        .groupBy(F.coalesce(F.col(f"after.{key}"), F.col(f"before.{key}")).alias(key))
        .agg(
            F.max_by("op", order).alias("_op"),  # the key's last event
            # its last image (max_by skips null orderings: the deletes)
            F.max_by("after", F.when(F.col("op") != "d", order)).alias("_after"),
        )
        .filter(F.col(key).isNotNull())
    )
    keys = latest.select(key)
    # a key ending on a delete keeps its last image (soft) or goes (hard)
    merged = latest.filter(
        F.col("_after").isNotNull() & (F.lit(soft_delete) | (F.col("_op") != "d"))
    ).select("_after.*", "_op")
    if partition_col is not None:
        part = F.col(partition_col).cast("string")
        hit = merged.select(part)
        if base is not None:
            hit = hit.union(base.join(keys, key, "left_semi").select(part))
        parts = {r[0] for r in hit.distinct().collect()}
        if not parts:
            return
        if base is not None:
            base = base.filter(functools.reduce(operator.or_, [part.eqNullSafe(v) for v in parts]))
    if base is not None:
        merged = base.join(keys, key, "left_anti").unionByName(merged, allowMissingColumns=True)
        if soft_delete:  # deleted with no image in the batch: flag the stored row
            gone = latest.filter((F.col("_op") == "d") & F.col("_after").isNull()).select(key)
            merged = merged.unionByName(
                base.join(gone, key, "left_semi").withColumn("_op", F.lit("d")),
                allowMissingColumns=True,
            )
    if soft_delete:
        deleted = F.when(F.col("_op") == "d", True).otherwise(F.col("is_deleted"))
        merged = merged.withColumn("is_deleted", deleted)
    merged = merged.drop("_op")

    if partition_col is None:
        if src == target_path:  # a job cannot overwrite the path it reads
            merged.write.mode("overwrite").parquet(tmp)
            merged = spark.read.parquet(tmp)
        merged.write.mode("overwrite").parquet(target_path)
        fs.delete(path(tmp), True)
        return
    written = Observation()
    (
        merged.observe(written, F.collect_set(F.struct(part)).alias("parts"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(target_path)
    )
    names = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for v in parts - {r[0] for r in written.get["parts"]}:
        fs.delete(path(f"{target_path}/{names.getPartitionPathString(partition_col, v)}"), True)


# the articles replica's layout, one partition per stored_date; the
# benchmark's MERGE pass (perfbench/streams.py) calls it by this name
merge_upsert_partitioned = functools.partial(merge_upsert, partition_col="stored_date")


def make_merge_sink(target_path: str, key: str = "id", soft_delete: bool = True):
    """Wrap merge_upsert as a foreachBatch callback:
    ``stream.writeStream.foreachBatch(make_merge_sink(...))``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, target_path, key=key, soft_delete=soft_delete)

    return sink


def observed_batch(batch: DataFrame, name: str = "batch_metrics"):
    """A14: per-batch success/error tallies (SyncService.py:454-468)
    via the Observation API — metrics ride the job, no extra pass.

    Returns (df, observation); read `observation.get` after an action.
    """
    obs = Observation(name)
    observed = batch.observe(
        obs,
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("op").isin("c", "r", "u"), 1).otherwise(0)).alias("n_upserts"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_deletes"),
        F.sum(F.when(F.col("op").isNull(), 1).otherwise(0)).alias("n_errors"),
    )
    return observed, obs


def kafka_sink_options(topic: str) -> dict[str, str]:
    """S7/S8 producer parity (keyword_republisher.py:48-57): snappy,
    acks=all, small linger for batching."""
    return {
        "topic": topic,
        "kafka.compression.type": "snappy",
        "kafka.acks": "all",
        "kafka.linger.ms": "10",
        "kafka.batch.size": "16384",
    }


def reconcile_snapshot(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    key: str = "id",
    compare_cols: list[str] | None = None,
) -> tuple[DataFrame, dict]:
    """Audit-and-repair cycle: diff the replicated table against a
    source snapshot and apply ONLY the drift — the set-oriented form
    of the reference's SyncService full-resync (which re-upserts
    every row, targetDB1/SyncService.py:87-140; at 100 TB you ship
    the patch, not the table).

    Composes the engine's own primitives end-to-end:
    ``operators.relational.snapshot_diff(include_values=True)``
    produces the applicable patch (insert/update rows with NEW-side
    values, delete keys), which is re-expressed as minimal CDC
    envelopes and replayed through the SAME `merge_upsert` path the
    streaming sink uses (hard deletes — reconciliation means the
    replica must EQUAL the source, so a soft-delete tombstone would
    itself be drift on the next audit).

    Returns ``(new_target_df, counts)`` with counts =
    {'insert': n, 'update': n, 'delete': n}.  Fixed point: after one
    application the diff is empty and a second pass applies nothing
    (pinned in tests).  Scale: the diff is one key-partitioned outer
    join; the apply is merge_upsert's whole-table rewrite."""
    from ..operators.relational import snapshot_diff

    fs, path = _fs(spark, target_path)
    replica = (
        spark.read.parquet(target_path)
        if fs.exists(path(target_path))
        else spark.createDataFrame([], source.schema)
    )
    patch = snapshot_diff(
        replica, source, [key],
        compare_cols=compare_cols, include_values=True,
    ).localCheckpoint(eager=True)
    counts = {r["change"]: r["n"] for r in patch.groupBy("change").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    counts = {c: int(counts.get(c, 0)) for c in ("insert", "update", "delete")}
    value_cols = [
        c for c in patch.columns if c not in (key, "change", "n_changed_cols")
    ]
    env = patch.select(
        F.when(F.col("change") == "delete", F.lit("d"))
        .when(F.col("change") == "insert", F.lit("c"))
        .otherwise(F.lit("u")).alias("op"),
        F.struct(F.col(key), *[F.col(c) for c in value_cols]).alias("after"),
        F.struct(F.col(key)).alias("before"),
        F.lit(0).cast("long").alias("ts"),
    )
    merge_upsert(spark, env, target_path, key=key, soft_delete=False)
    return spark.read.parquet(target_path), counts
