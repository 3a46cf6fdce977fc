from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from apache_spark_link_prediction_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    from apache_spark_link_prediction_spark.sources import load_table

    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn fired)``,
    counted through a job group set around the call."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status store through the async
        # listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
