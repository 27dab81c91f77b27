"""Guard: a BENCH_QUERIES subset run must never clobber BENCH_FULL.json.

VERDICT_r07 "What's wrong" #2: in round 7 a subset iteration run overwrote
the canonical per-round artifact and it had to be reconstructed from stderr
logs. bench._output_path is the single chokepoint the runner writes through
(``tools/floor_bench.py`` redirects it with BENCH_FULL_PATH); these tests pin
its routing.
"""

import importlib.util
import os

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
