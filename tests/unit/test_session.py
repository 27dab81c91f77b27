"""Session factory config handling, the per-gateway Column memo, the
iterative-loop checkpoint owner, the engine session staying active
after the oracle suite's driver session, and the two debugging aids the
engine session turns off (call-site capture, stage ids in class names)."""

from __future__ import annotations

import logging

import pytest
from pyspark import SparkContext
from pyspark.errors import ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.workloads import CURATION_WRITE, OLAP_MIX
from tmdb_spark_data_pipeline_spark.functions import gateway_memo
from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY
from tmdb_spark_data_pipeline_spark.session import Rounds, _env_conf_pairs, get_spark


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


def test_second_pass_compiles_no_code(spark, sf_smoke):
    """A warm pass over the benchmark's queries reuses every class the first
    pass compiled. At Spark's default codegen cache of 100 entries in 4 LRU
    segments, each later pass recompiled about 60 of them."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()

    def one_pass():
        for name in OLAP_MIX + CURATION_WRITE:
            REGISTRY[name].fn(spark, sf_smoke).write.mode("overwrite").format("noop").save()

    one_pass()
    before = compiled.getCount()
    one_pass()
    assert compiled.getCount() - before == 0


@pytest.mark.parametrize("name", ["bigram_kneser_ney_heldout", "bm25_ndcg_eval"])
def test_rerun_compiles_no_code(spark, sf_smoke, name):
    """A second run of one query reuses every class the first run compiled.
    With the whole-stage stage id in the class name, AQE's run-to-run stage
    numbering made these two recompile 14-26 classes on every run."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()

    def run():
        REGISTRY[name].fn(spark, sf_smoke).write.mode("overwrite").format("noop").save()

    run()
    before = compiled.getCount()
    run()
    assert compiled.getCount() - before == 0


def test_column_building_skips_call_site_capture(spark):
    """The engine session builds Columns without pyspark's call-site capture,
    which sends about 10 extra Py4J commands per Column call (24 commands
    for the expression below with it on)."""
    assert not is_debugging_enabled()
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    sent = []

    def counting(*args, **kwargs):
        sent.append(args)
        return orig(*args, **kwargs)

    client.send_command = counting
    try:
        F.col("a") + 1
    finally:
        client.__dict__.pop("send_command", None)
    assert len(sent) <= 4


def test_ansi_error_keeps_its_class_without_call_site(spark):
    """Without call-site capture an ANSI error keeps its error class, message
    and DataFrame query context; only the Python ``file:line`` goes."""
    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    with pytest.raises(ArithmeticException) as err:
        ansi.range(1).select(F.col("id") / 0).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert str(err.value).startswith("[DIVIDE_BY_ZERO] Division by zero.")
    (ctx,) = err.value.getQueryContext()
    assert ".py:" not in ctx.callSite()
    assert SparkSession.getActiveSession() is spark


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


def test_rounds_keeps_one_cut_and_one_laundering_pin(spark):
    """``Rounds`` frees every superseded cut and consumed side checkpoint
    at the next cut, keeps at most one laundering pin, and on exit (by a
    raise too) drops that pin's cache and the held inputs, leaving only the
    newest cut, which stays readable."""
    cm = spark._jsparkSession.sharedState().cacheManager()

    def live() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def step(df):
        return df.select((F.col("id") + 1).alias("id"))

    spark.catalog.clearCache()
    seen = live()
    with Rounds(launder_every=3) as rounds:
        held = rounds.hold(spark.range(10))
        df = held
        for n in range(1, 8):
            side = step(df).localCheckpoint()
            df = rounds.cut(step(side), side)
            pinned = n >= 3  # cuts 3 and 6 launder; cut 6 supersedes 3
            # held + newest cut; a pin that a later cut has read adds its
            # checkpoint and its cache's buffers
            assert len(live() - seen) == 2 + 2 * (pinned and n % 3 != 0)
            assert cm.isEmpty() != pinned
    assert cm.isEmpty()
    assert len(live() - seen) == 1
    assert [r.id for r in df.orderBy("id").collect()] == list(range(14, 24))

    seen = live()
    with pytest.raises(RuntimeError, match="boom"):
        with Rounds(launder_every=2) as rounds:
            df = rounds.hold(spark.range(5))
            for _ in range(3):
                df = rounds.cut(step(df))
            raise RuntimeError("boom")
    assert cm.isEmpty()
    assert len(live() - seen) == 1
