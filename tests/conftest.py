from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tmdb_spark_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _make_active(session: SparkSession) -> None:
    """Make ``session`` the JVM's active and default session (and pyspark's).
    The Python data sources resolve their provider through the JVM's active
    session: without this, ``jsonl_py`` registered on the driver session is
    DATA_SOURCE_NOT_FOUND."""
    jcls = SparkSession._get_j_spark_session_class(session._jvm)
    jcls.setActiveSession(session._jsparkSession)
    jcls.setDefaultSession(session._jsparkSession)
    SparkSession._activeSession = SparkSession._instantiatedSession = session


@pytest.fixture(scope="module")
def driver_spark(spark):
    """A session with the driver's config on the engine's JVM: a new session
    of the engine session, with every runtime ``spark.sql.*`` conf that
    ``get_spark`` pins unset back to Spark's default (ANSI on, 200 shuffle
    partitions). pyspark sets ``spark.sql.artifact.isolation.enabled`` in
    every session, the driver's included, so it stays. It is the active
    session until the requesting module ends; the engine session is active
    again afterwards."""
    drv = spark.newSession()
    for key in drv.conf.getAll:
        if (
            key.startswith("spark.sql.")
            and key != "spark.sql.artifact.isolation.enabled"
            and drv.conf.isModifiable(key)
        ):
            drv.conf.unset(key)
    _make_active(drv)
    yield drv
    _make_active(spark)


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
