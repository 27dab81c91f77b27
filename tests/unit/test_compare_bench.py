"""tools/compare_bench.py on two small BENCH files, with no Spark session:
the per-query timing diff and, when both files were traced, the layer diff."""

import importlib.util
import json
import os

import pytest

_TOOL = os.path.join(os.path.dirname(__file__), "..", "..", "tools", "compare_bench.py")


@pytest.fixture()
def compare_bench():
    spec = importlib.util.spec_from_file_location("compare_bench_under_test", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _layers(py4j: int, build_s: float, jobs: int, classes: int) -> dict:
    metrics = {"plans.build_py4j_calls": py4j, "plans.build_s": build_s}
    if jobs:  # the tracer emits a layer's job count only when it ran one
        metrics["spark.jobs"] = jobs
    return {"metrics": metrics, "stages": [], "codegen_classes": classes}


def _write(path, queries: dict, layers: dict | None) -> str:
    bench = {"value": sum(queries.values()), "queries": queries, "canary_ms": [100, 100]}
    if layers is not None:
        bench["layers"] = layers
    path.write_text(json.dumps(bench))
    return str(path)


def test_layer_diff_lists_each_key_largest_change_first(compare_bench, tmp_path, capsys):
    old = _write(
        tmp_path / "old.json",
        {"a": 1.0, "b": 2.0, "c": 0.5},
        {"a": _layers(236, 0.021, 1, 4), "b": _layers(1155, 0.079, 3, 0), "c": _layers(10, 0.01, 0, 0)},
    )
    new = _write(
        tmp_path / "new.json",
        {"a": 0.9, "b": 2.5, "c": 0.5},
        {"a": _layers(76, 0.014, 1, 0), "b": _layers(629, 0.053, 3, 0), "c": _layers(10, 0.01, 0, 0)},
    )
    compare_bench.main([old, new])
    out = capsys.readouterr().out
    py4j = out.split("plans.build_py4j_calls over 3 traced queries: 1401 -> 715")[1]
    # b moved 526 commands, a 160; c did not move and is not listed
    assert py4j.index("  b: 1155 -> 629 (-526)") < py4j.index("  a: 236 -> 76 (-160)")
    assert "  c:" not in py4j.split("\n\n")[0]
    assert "plans.build_s over 3 traced queries" in out
    jobs = out.split("spark.jobs over 3 traced queries: 4 -> 4, nonzero in 2 -> 2, changed in 0")[1]
    assert "  a:" not in jobs.split("\n\n")[0]
    assert "codegen_classes over 3 traced queries: 4 -> 0, nonzero in 1 -> 0, changed in 1" in out
    assert "  a: 4 -> 0 (-4)" in out
    # the timing diff still comes first
    assert out.index("worst regressions") < out.index("plans.build_py4j_calls over")
    assert "  b: 2.00s -> 2.50s (+0.50)" in out


def test_no_layer_diff_unless_both_files_were_traced(compare_bench, tmp_path, capsys):
    old = _write(tmp_path / "old.json", {"a": 1.0}, None)
    new = _write(tmp_path / "new.json", {"a": 0.9}, {"a": _layers(76, 0.014, 1, 0)})
    compare_bench.main([old, new])
    out = capsys.readouterr().out
    assert "best improvements" in out
    assert "traced queries" not in out
