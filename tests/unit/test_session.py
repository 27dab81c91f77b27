"""Session factory config handling, the per-gateway Column memo, and the
engine session staying active after the oracle suite's driver session."""

from __future__ import annotations

import logging

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark.functions import gateway_memo
from tmdb_spark_data_pipeline_spark.session import _env_conf_pairs, get_spark


@pytest.mark.parametrize("bad", ["spark.ui.showConsoleProgress", "=false"])
def test_malformed_extra_conf_entry_raises(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", f"spark.sql.ansi.enabled=false;{bad}")
    with pytest.raises(ValueError, match=repr(bad)):
        get_spark(app_name="bad-conf")


def test_well_formed_extra_conf_applies_and_logs(spark, monkeypatch, caplog):
    raw = "spark.sql.warehouse.dir=/tmp/wh; spark.ui.showConsoleProgress=false;"
    assert _env_conf_pairs(raw) == [
        ("spark.sql.warehouse.dir", "/tmp/wh"),
        ("spark.ui.showConsoleProgress", "false"),
    ]
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.shuffle.partitions=4")
    with caplog.at_level(logging.INFO, logger="tmdb_spark_data_pipeline_spark.session"):
        assert get_spark(app_name="tests", master="local[4]", shuffle_partitions=4) is spark
    assert "('spark.sql.shuffle.partitions', '4')" in caplog.text


def test_gateway_memo_rebuilds_after_gateway_change(spark, monkeypatch):
    @gateway_memo
    def build(n: int):
        return F.expr(f"{n} + 1")

    first = build(1)
    assert build(1) is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    fresh = build(1)
    assert fresh is not first
    assert build(1) is fresh


def test_engine_session_active_with_ansi_off(spark):
    # the oracle suite runs its queries in a driver-config session (ANSI on)
    # and must hand the JVM back to the engine session afterwards
    jcls = SparkSession._get_j_spark_session_class(spark._jvm)
    assert jcls.getActiveSession().get().equals(spark._jsparkSession)
    assert jcls.getDefaultSession().get().equals(spark._jsparkSession)
    assert SparkSession.getActiveSession() is spark
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
