"""SparkSession factory tuned for both local testing and cluster scale.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
the same settings are what we would ship on a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
explicit shuffle partitioning, Arrow for the single pandas-UDF path,
UTC session time so results are engine-independent.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Shuffle partitions come from two settings (SCALING.md §1):
#
# - Batch exchanges start at INITIAL_SHUFFLE_PARTITIONS
#   (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
#   At 100 TB a partition is sized to ~128-256 MB post-compression; AQE
#   coalesces small ones at runtime, so the initial count is generous and
#   AQE shrinks it.
# - Stateful streaming operators run without AQE and take
#   ``spark.sql.shuffle.partitions``: one versioned state store per
#   partition, loaded and committed in every micro-batch and frozen in
#   the checkpoint at the query's first start.  That count is the
#   session's task slots, so each batch commits its stores in one wave.
INITIAL_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEMORY_MB = 16 * 1024

_LOCAL_MASTER = re.compile(r"local(?:\[(\d+|\*)(?:,\d+)?\])?")


def _task_slots(master: str, cores: int) -> int:
    """Concurrent tasks a session on ``master`` runs: N for ``local[N]``
    (and ``local[N,F]``), ``cores`` for ``local[*]``, 1 for ``local``.
    A cluster master's slots are not known when the session is built; it
    gets the batch initial count."""
    m = _LOCAL_MASTER.fullmatch(master)
    if m is None:
        return INITIAL_SHUFFLE_PARTITIONS
    n = m.group(1)
    return cores if n == "*" else int(n or 1)


def session_conf(master: str, ram_bytes: int, cores: int) -> dict[str, str]:
    """The session settings for ``master`` on a host with ``ram_bytes`` of
    memory and ``cores`` usable cores.

    - ``spark.sql.shuffle.partitions``: the task-slot count (state stores);
      ``initialPartitionNum``: the batch exchanges' count before AQE.
    - ``spark.sql.adaptive.enabled``: runtime re-optimization — coalesce
      post-shuffle partitions, convert sort-merge→broadcast when a side
      turns out small, split skewed partitions (AQE skew join).
    - ``spark.sql.session.timeZone=UTC``: deterministic event-time math
      regardless of host TZ (the reference pinned Asia/Seoul per-host;
      we normalize to UTC and convert at the edges).
    - Arrow enabled for the pandas-UDF tier (SURVEY §2.9 U1).
    - ``spark.driver.memory``: half the host's memory, at most 16g.
    """
    driver_mb = min(MAX_DRIVER_MEMORY_MB, ram_bytes // 2**21)
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(_task_slots(master, cores)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(INITIAL_SHUFFLE_PARTITIONS),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        # test tables carry TIMESTAMP(NANOS) parquet columns (not in the
        # parquet spec Spark supports natively); read them as long and
        # convert in the loader (sources/tables.py)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": f"{driver_mb}m",
        "spark.ui.enabled": "false",
        "spark.sql.streaming.statefulOperator.checkCorrectness.enabled": "true",
    }


def get_spark(app_name: str = "cdc-pipeline-spark", *, extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession: ``session_conf`` for this
    host, then ``SPARK_GRAFT_DRIVER_MEM`` (driver memory), then
    ``extra_conf``, each overriding the one before."""
    master = os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")  # MemTotal on Linux
    conf = session_conf(master, ram_bytes, len(os.sched_getaffinity(0)))
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        conf["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    conf.update(extra_conf or {})
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
