from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdc_pipeline_with_kafka_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        "tests",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "8",
        },
    )
    yield spark
