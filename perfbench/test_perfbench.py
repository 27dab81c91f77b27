"""Tests for the benchmark's own code.

    python3 -m pytest perfbench -q

The last test starts a 2-core Spark session and runs a tiny verified,
timed and traced pass on the sf0.001 test data.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layertrace  # noqa: E402
import run  # noqa: E402
from layertrace import Span, self_times  # noqa: E402
from workloads import WORKLOADS, benchmark_spec  # noqa: E402

from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY  # noqa: E402

SPEC = benchmark_spec(ROOT)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in SPEC["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_workload_members_exist_and_do_not_overlap():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    seen: set[str] = set()
    for name, members in WORKLOADS.items():
        assert members, name
        missing = [q for q in members if q not in REGISTRY]
        assert not missing, f"{name}: not in REGISTRY: {missing}"
        overlap = seen.intersection(members)
        assert not overlap, f"{name} shares {overlap}"
        assert len(set(members)) == len(members)
        seen.update(members)


def test_tail_percentile_needs_ten_samples_above_it():
    assert run.tail_percentile([float(i) for i in range(1, 101)]) == pytest.approx(90.9)
    assert run.tail_percentile([float(i) for i in range(1, 100)]) is None
    assert run.tail_percentile([1.0]) is None


def test_pass_metrics_use_each_querys_median():
    m = run.pass_metrics({"a": [1.0, 9.0, 1.0], "b": [4.0, 4.0, 5.0], "c": [], "d": [2.0]})
    assert m["wall_s"] == 7.0
    assert m["query_p50_s"] == 4.0  # the median of all seven executions
    assert m["query_geomean_s"] == pytest.approx(8.0 ** (1 / 3))
    assert run.pass_metrics({"a": [], "b": []}) == {}  # every query failed


def _span(name, layer, parent, start, end, main=True):
    return Span(name, layer, parent, "q", main, start, end)


def test_self_times_add_up_to_the_query_wall():
    spans = [
        _span("q", "query", None, 0.0, 10.0),
        _span("build", "plans", 0, 0.5, 6.0),
        _span("operators.dedup.f", "operators.dedup", 1, 1.0, 4.0),
        _span("sources.io.load_table", "sources.io", 2, 1.5, 2.0),
        # an engine worker thread: overlaps freely, gets no self time
        _span("operators.similarity.g", "operators.similarity", 2, 1.2, 3.9, main=False),
        _span("catalyst.plan", "catalyst", 0, 6.0, 7.0),
        _span("exec", "exec", 0, 7.0, 9.75),
    ]
    st = self_times(spans, range(len(spans)))
    assert st == pytest.approx({0: 0.75, 1: 2.5, 2: 2.5, 3: 0.5, 5: 1.0, 6: 2.75})
    assert sum(st.values()) == pytest.approx(10.0)
    assert layertrace.innermost_at(spans, range(len(spans)), 1.7) == 3
    assert layertrace.innermost_at(spans, range(len(spans)), 6.5) == 5
    assert layertrace.innermost_at(spans, range(len(spans)), 11.0) is None


def test_plan_node_counts():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1])
   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=25]
      +- *(1) BroadcastHashJoin [a#2], [b#3], Inner, BuildRight
         :- *(1) FileScan parquet [a#2] Batched: true
         +- BroadcastExchange HashedRelationBroadcastMode(List(b#3)), [plan_id=20]
            +- Scan ExistingRDD[b#3]"""
    assert layertrace.count_plan_nodes(plan) == (2, 2)


def test_written_bytes_counts_only_new_or_rewritten_files(tmp_path):
    tree = tmp_path / "spark_graft_app_tag_sf0.1"
    tree.mkdir()
    (tree / "old.parquet").write_bytes(b"x" * 100)
    (tree / "same.parquet").write_bytes(b"y" * 10)
    s0 = layertrace.tree_files([str(tree)])
    assert layertrace.written_bytes(s0, layertrace.tree_files([str(tree)])) == 0
    (tree / "new.parquet").write_bytes(b"z" * 7)
    (tree / "old.parquet").unlink()
    (tree / "old.parquet").write_bytes(b"w" * 30)  # rewritten: a new inode
    assert layertrace.written_bytes(s0, layertrace.tree_files([str(tree)])) == 37


def test_layer_of():
    pkg = layertrace.PKG
    assert layertrace.layer_of(f"{pkg}.operators.dedup") == "operators.dedup"
    assert layertrace.layer_of(f"{pkg}.sources.io") == "sources.io"
    assert layertrace.layer_of(f"{pkg}.streaming.windows") == "streaming"
    assert layertrace.layer_of(f"{pkg}.plans.queries") is None
    assert layertrace.layer_of(f"{pkg}.sources.rest") is None


class _FakeSpark:
    """Just enough session for Runner's between-query reclaim."""

    class catalog:  # noqa: N801
        @staticmethod
        def clearCache():  # noqa: N802
            pass



def test_a_raising_query_counts_as_failed():
    class Spec:
        @staticmethod
        def fn(spark, sf_dir):
            raise RuntimeError("boom")

    runner = run.Runner(_FakeSpark, {"boom": Spec}, ["boom"], 0, "v", "t")
    runner.run_pass()
    assert runner.latencies == {"boom": []}
    assert runner.attempted == 1
    assert len(runner.failures) == 1 and "boom" in runner.failures[0]


def test_seed_shuffles_the_order_reproducibly():
    names = [f"q{i}" for i in range(20)]
    a = run.Runner(_FakeSpark, {}, names, 7, "v", "t")
    b = run.Runner(_FakeSpark, {}, names, 7, "v", "t")
    c = run.Runner(_FakeSpark, {}, names, 8, "v", "t")
    first = a.order()
    assert first == b.order() and first != c.order() and sorted(first) == sorted(names)
    assert a.order() != first  # each pass draws a new order


def test_await_ended_waits_for_children_and_kills_stragglers():
    import subprocess

    quick = subprocess.Popen(["sleep", "0.2"])
    stuck = subprocess.Popen(["sleep", "60"])
    tree = run.descendants(os.getpid())
    assert {quick.pid, stuck.pid} <= {pid for pid, _ in tree}
    run.await_ended([p for p in tree if p[0] == quick.pid], timeout=30.0)
    assert quick.wait(timeout=1) == 0  # ended by itself, not killed
    run.await_ended([p for p in tree if p[0] == stuck.pid], timeout=0.1)
    assert stuck.wait(timeout=1) == -9
    assert not any(run.alive(p) for p in tree)


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    data = os.path.join(run.DATA, "sf0.001")
    mp = pytest.MonkeyPatch()
    mp.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    mp.setenv("SPARK_LOCAL_DIRS", str(base / "local"))
    mp.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.ui.showConsoleProgress=false")
    mp.setenv("TMPDIR", str(base))  # the engine's _run_tmp scratch trees
    mp.setattr("tempfile.tempdir", None)
    from tmdb_spark_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    yield spark, data, str(base)
    spark.stop()
    mp.undo()


def test_a_full_tiny_pass(tiny):
    """Verify, time and trace a few queries of every workload at sf0.001."""
    import duckdb

    from tests.oracle.test_duckdb_oracle import _canon
    from tmdb_spark_data_pipeline_spark.sources.io import TPCH_TABLES

    spark, data, scratch = tiny
    members = ["scan_filter_project", "simhash_neardups", "stream_exactly_once_totals"]
    duck = duckdb.connect()
    for t in TPCH_TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    runner = run.Runner(spark, REGISTRY, members, 3, data, data)
    runner.verify(duck, _canon)
    assert runner.failures == []

    qt = layertrace.QueryTracer(spark, scratch)
    runner.timed_passes(0.0, qt)
    assert runner.failures == [] and runner.passes == 1
    assert all(len(runner.latencies[q]) == len(runner.traced[q]) == 1 for q in members)

    metrics = qt.metrics(runner.latencies, runner.traced, runner.passes, 1.0)
    declared = {m["name"] for m in SPEC["per_layer"]}
    assert declared <= set(metrics) | {m for m in declared if m.startswith("operators.")}
    assert metrics["trace.selftime_gap_s"] < 1e-6
    assert metrics["spark.jobs"] >= len(members)
    assert metrics["plans.build_s"] > 0 and metrics["exec_s"] > 0
    spans = qt.tracer.spans
    for rec in qt.records:
        st = self_times(spans, rec.spans)
        assert sum(st.values()) == pytest.approx(rec.wall, abs=1e-6)
    # only the stream writes; the read-only queries are charged nothing even
    # when traced after it, with its scratch tree still on disk
    written = {rec.name: rec.write_bytes for rec in qt.records}
    assert written["stream_exactly_once_totals"] > 0
    assert written["scan_filter_project"] == written["simhash_neardups"] == 0
    assert qt.metrics({}, runner.traced, 1, 1.0)["trace.overhead_frac"] == 0.0
