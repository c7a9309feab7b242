from __future__ import annotations

import os
import sys

import pytest

# the checkout this file lives in, whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_clickhouse_implementation_spark.session import get_spark

# Overridable so the plan-assertion suite can run against the
# self-generated sf1-equivalent dataset (tools/make_scale_data.py):
#   SPARK_GRAFT_TEST_SF_DIR=/tmp/spark_graft_scale/sf1 pytest tests/test_plans.py
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def jobs_launched(spark):
    """``jobs_launched(build)``: the Spark jobs started while ``build()``
    runs, counted from the status store under a job group of their own."""
    import uuid

    def count(build) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
