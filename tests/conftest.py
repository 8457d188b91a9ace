from __future__ import annotations

import re
from contextlib import contextmanager

import pytest

from realtime_voting_system_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"

# The width of every batch shuffle on a get_spark session (AQE's initial
# partition number); spark.sql.shuffle.partitions there is the stream width
BATCH_WIDTH = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


@contextmanager
def batch_width(spark, n):
    """Plan batch queries at ``n`` shuffle partitions, then restore."""
    old = spark.conf.get(BATCH_WIDTH)
    spark.conf.set(BATCH_WIDTH, str(n))
    try:
        yield
    finally:
        spark.conf.set(BATCH_WIDTH, old)


def exchange_widths(df) -> set[int]:
    """Partition counts of the hash exchanges in ``df``'s initial plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    initial = plan.split("== Initial Plan ==")[-1]
    return {
        int(n) for n in re.findall(r"hashpartitioning\(.*, (\d+)\)", initial)
    }


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rtvs-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
