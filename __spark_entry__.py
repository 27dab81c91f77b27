"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over ``tmdb_spark_data_pipeline_spark.plans.queries`` — the
declared query surface (SURVEY.md §2.11), each written once in PySpark and
once in DuckDB SQL.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tmdb_spark_data_pipeline_spark.plans.queries import (  # noqa: E402
    REGISTRY,
    revenue_by_region,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: multi-table star join + decimal-exact
    grouped revenue (revenue_by_region)."""
    return revenue_by_region(spark, SMOKE_SF_DIR)


def sweep_order(names: list[str], record_dir: str = HERE) -> list[str]:
    """``names`` ordered by the last round whose ``CORRECTNESS_r<N>.json``
    window in ``record_dir`` recorded them green (rows, schema and hash all
    matching), oldest first; a name never green sorts as round 0 and ties
    keep the order of ``names``. The driver checks only a prefix of
    ``queries()``, so each window covers the names checked longest ago."""
    last = dict.fromkeys(names, 0)
    for path in glob.glob(os.path.join(record_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            window = json.load(f)
        for name, row in window.items():
            if name in last and all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            ):
                last[name] = max(last[name], int(m.group(1)))
    return sorted(names, key=last.__getitem__)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in sweep_order(list(REGISTRY))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query, in ``queries()`` order."""
    return {name: REGISTRY[name].oracle for name in sweep_order(list(REGISTRY))}
