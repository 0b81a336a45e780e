"""The session settings rule (session.session_conf): state partitions
sized to task slots, batch exchanges on a fixed initial count, driver
memory sized to the host."""

from __future__ import annotations

import pytest

from cdc_pipeline_with_kafka_spark.session import INITIAL_SHUFFLE_PARTITIONS, session_conf

GB = 2**30


@pytest.mark.parametrize(
    "master, cores, slots",
    [
        ("local[4]", 16, 4),
        ("local[1]", 16, 1),
        ("local", 16, 1),
        ("local[*]", 6, 6),
        ("local[2,3]", 16, 2),
        ("spark://host:7077", 16, INITIAL_SHUFFLE_PARTITIONS),
    ],
)
def test_state_partitions_are_task_slots(master, cores, slots):
    conf = session_conf(master, 16 * GB, cores)
    assert conf["spark.sql.shuffle.partitions"] == str(slots)
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "32"
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"


@pytest.mark.parametrize(
    "ram_bytes, driver_memory",
    [
        (16 * GB, "8192m"),
        (16456384 * 1024, "8035m"),  # a 15.7 GiB MemTotal
        (4 * GB, "2048m"),
        (32 * GB, "16384m"),
        (256 * GB, "16384m"),  # capped at 16g
    ],
)
def test_driver_memory_is_half_the_host_capped_at_16g(ram_bytes, driver_memory):
    assert session_conf("local[4]", ram_bytes, 4)["spark.driver.memory"] == driver_memory


def test_extra_conf_wins(spark):
    # conftest builds the shared session with both counts pinned to 8
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "8"
