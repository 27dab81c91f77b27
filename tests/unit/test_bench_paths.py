"""Guards on bench.py, the one measurement runner.

VERDICT_r07 "What's wrong" #2: in round 7 a subset iteration run overwrote
the canonical per-round artifact and it had to be reconstructed from stderr
logs. bench._output_path is the single chokepoint the runner writes through
(``bench.py <names>`` and ``--floors`` runs go to BENCH_SUBSET.json, and
BENCH_FULL_PATH redirects any run); these tests pin its routing, the
``--floors`` merge into BENCH_FLOORS.json, the ``--trace`` record, the
headline's run context and the normalized ``--plans-dir`` text.
"""

import importlib.util
import json
import os
import re

import pytest

_BENCH = os.path.join(os.path.dirname(__file__), "..", "..", "bench.py")


@pytest.fixture()
def bench_mod():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_full_run_targets_canonical(bench_mod, monkeypatch):
    monkeypatch.delenv("BENCH_FULL_PATH", raising=False)
    assert os.path.basename(bench_mod._output_path(subset=False)) == "BENCH_FULL.json"


def test_subset_run_diverted_to_scratch(bench_mod, monkeypatch):
    monkeypatch.delenv("BENCH_FULL_PATH", raising=False)
    path = bench_mod._output_path(subset=True)
    assert os.path.basename(path) == "BENCH_SUBSET.json"
    assert "BENCH_FULL" not in os.path.basename(path)


def test_explicit_path_always_wins(bench_mod, monkeypatch):
    monkeypatch.setenv("BENCH_FULL_PATH", "/tmp/shard_part.json")
    assert bench_mod._output_path(subset=True) == "/tmp/shard_part.json"
    assert bench_mod._output_path(subset=False) == "/tmp/shard_part.json"


def test_name_arguments_route_output_to_subset_file(bench_mod, monkeypatch):
    monkeypatch.delenv("BENCH_FULL_PATH", raising=False)
    out = {
        tuple(argv): os.path.basename(bench_mod._parse_args(argv).out)
        for argv in ([], ["scan_filter_project"], ["--floors", "scan_filter_project"])
    }
    assert out == {
        (): "BENCH_FULL.json",
        ("scan_filter_project",): "BENCH_SUBSET.json",
        ("--floors", "scan_filter_project"): "BENCH_SUBSET.json",
    }
    with pytest.raises(SystemExit):
        bench_mod._parse_args(["no_such_query"])


def test_floors_merge_keeps_the_other_entries(bench_mod, tmp_path):
    path = tmp_path / "BENCH_FLOORS.json"
    kept = {"floor_sec": 1.0, "reps": 6, "steal_pct": 0.0, "run_canary_ms": [20.0, 21.0],
            "at": "2026-01-01T00:00:00Z"}
    path.write_text(json.dumps({"a": kept, "b": dict(kept, floor_sec=9.0)}))
    run = {"queries": {"b": 2.5, "c": 0.3}, "query_steal_pct": {"b": 0.4},
           "canary_ms": [30.0, 31.0]}
    bench_mod._merge_floors(str(path), run, 3)
    floors = json.loads(path.read_text())
    assert floors["a"] == kept
    assert floors["b"]["floor_sec"] == 2.5 and floors["c"]["floor_sec"] == 0.3
    assert floors["b"]["steal_pct"] == 0.4 and floors["c"]["steal_pct"] is None
    for name in "bc":
        assert set(floors[name]) == set(kept)
        assert floors[name]["reps"] == 3 and floors[name]["run_canary_ms"] == [30.0, 31.0]


def test_trace_record_counts_jobs_and_stages_with_the_ui_off(bench_mod, spark, sf_smoke):
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    name = "scan_filter_project"
    bench_mod.REGISTRY[name].fn(spark, sf_smoke).write.mode("overwrite").format("noop").save()
    rec = bench_mod._trace(spark, name, sf_smoke, 0.1, 0.0)
    assert rec["metrics"]["spark.jobs"] >= 1
    assert rec["metrics"]["spark.stages"] == len(rec["stages"]) >= 1
    for stage_id, tasks, run_s, read_mb, write_mb in rec["stages"]:
        assert tasks >= 1 and run_s >= 0 and read_mb >= 0 and write_mb >= 0
    # the untraced run just compiled every class the traced run needs
    assert rec["codegen_classes"] == 0 and rec["codegen_compile_ms"] == 0
    json.dumps(rec)


def test_headline_carries_master_and_cpus_within_its_byte_budget(bench_mod, spark, capsys):
    context = bench_mod._run_context(spark)
    assert context == {"master": "local[4]", "cpus": 4}
    timings = {f"query_number_{i:03d}": 1.0 + i / 1000 for i in range(304)}
    bench_mod._print_headline(timings, 1234.567, 0.1, 0.42, [20.1, 20.3], context)
    line = capsys.readouterr().out
    assert line.endswith("\n") and line.count("\n") == 1
    assert len(line.rstrip("\n").encode()) <= bench_mod.LINE_BYTES
    head = json.loads(line)
    assert head["master"] == "local[4]" and head["cpus"] == 4
    assert head["n_queries"] == 304 and 0 < len(head["queries"]) < 304
    assert max(head["queries"].values()) == max(timings.values())


@pytest.mark.parametrize(
    "name, token",
    [
        ("similarity_topk", "x_<n>"),
        ("embedding_mutual_reach_hierarchy_ann", "at localCheckpoint at <site>"),
    ],
    ids=["similarity_topk", "embedding_mutual_reach_hierarchy_ann"],
)
def test_plans_dir_writes_the_same_text_for_two_builds(
    bench_mod, spark, sf_smoke, tmp_path, name, token
):
    # expression ids, lambda variables (x_9 vs x_21), exchange plan ids and
    # a checkpointed RDD's id and call site differ between two builds in one
    # process; the written plan must not
    for run in ("a", "b"):
        bench_mod._write_plan(spark, name, sf_smoke, str(tmp_path / run))
    first = (tmp_path / "a" / f"{name}.txt").read_text()
    assert first == (tmp_path / "b" / f"{name}.txt").read_text()
    assert "#<n>" in first and token in first
    assert not re.search(r"#\d|\b[xyz]_\d|plan_id=\d|RDD\[\d|\.java:\d|<unknown>:\d", first)
