from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tmdb_spark_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@pytest.fixture
def jobs_run(spark):
    """``jobs_run(fn)``: ``fn()``'s result and the number of Spark jobs
    submitted while it ran, on any thread (the job IDs it used up)."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def run(fn):
        first = scheduler.nextJobId()
        out = fn()
        return out, scheduler.nextJobId() - first

    return run
