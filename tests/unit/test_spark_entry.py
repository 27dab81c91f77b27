"""The driver's query order: ``__spark_entry__.sweep_order`` ranks names by
the last round whose recorded ``CORRECTNESS_r<N>.json`` window had them
green, oldest first. No Spark session is needed."""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__
from __spark_entry__ import sweep_order
from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def _window(path, rows: dict) -> None:
    with open(path, "w") as f:
        json.dump(rows, f)


def test_queries_and_oracles_are_one_order_over_the_registry():
    names = list(__spark_entry__.queries())
    assert sorted(names) == sorted(REGISTRY)
    assert list(__spark_entry__.oracle_sql()) == names


def test_newest_recorded_window_comes_last():
    newest = max(
        glob.glob(os.path.join(__spark_entry__.HERE, "CORRECTNESS_r*.json")),
        key=lambda p: int(os.path.basename(p)[len("CORRECTNESS_r") : -len(".json")]),
    )
    with open(newest) as f:
        green = {n for n, row in json.load(f).items() if all(row[k] for k in GREEN)}
    assert set(list(__spark_entry__.queries())[-len(green) :]) == green


def test_never_green_first_then_by_last_green_round(tmp_path):
    _window(tmp_path / "CORRECTNESS_r1.json", {"a": GREEN, "b": GREEN, "c": GREEN})
    # c fails its last window, so it ranks by its r1 pass; d never passed
    _window(
        tmp_path / "CORRECTNESS_r2.json",
        {"b": GREEN, "c": dict(GREEN, hash_match=False), "d": dict(GREEN, rows_match=False)},
    )
    _window(tmp_path / "CORRECTNESS_r2_local.json", {"e": GREEN})  # not a window
    names = ["b", "a", "c", "d", "e"]
    assert sweep_order(names, str(tmp_path)) == ["d", "e", "a", "c", "b"]


def test_no_recorded_windows_keeps_registry_order(tmp_path):
    assert sweep_order(list(REGISTRY), str(tmp_path)) == list(REGISTRY)
