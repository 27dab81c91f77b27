"""The driver's correctness gate, run locally: every declared query in a
driver-contract session AND its DuckDB oracle on the same parquet tables,
compared the way the driver compares them — column names, row count,
order-insensitive canonical values (sort columns by name, sort rows,
stringify) and result types (the driver's value hash is type-aware).

The driver builds its own default-config SparkSession (ANSI on, machine TZ,
Spark's default shuffle partitions and broadcast threshold), not the
engine's ANSI-off one, so every query here runs in such a session.

Default scale is sf0.001; for the driver's scale, point ``ORACLE_SF_DIR`` at
the sf0.01 test data. Select a subset with ``-k name``.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import SparkSession

from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY
from tmdb_spark_data_pipeline_spark.sources.io import TPCH_TABLES

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style canonicalization: fixed precision, no trailing-zero noise
        return f"{v:.10g}"
    return str(v)


def _canon(rows, columns) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


# --- result-type parity ------------------------------------------------------
# The driver's value hash is type-aware: DuckDB `sum(INTEGER)` yields HUGEINT
# (int128 → float64 through pandas), which hashes differently from Spark's
# BIGINT even when every value matches — that cost `sessionization` its green
# row in round 1. Pin exact type parity for every oracle column.

_DUCK_TO_SPARK = {
    "BOOLEAN": "boolean",
    "TINYINT": "tinyint",
    "SMALLINT": "smallint",
    "INTEGER": "int",
    "BIGINT": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BLOB": "binary",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
}


def _canon_duck_type(t) -> str:
    s = str(t)
    if s.startswith("DECIMAL"):
        return s.replace("DECIMAL", "decimal").replace(" ", "")
    if s.endswith("[]"):
        return f"array<{_canon_duck_type(s[:-2])}>"
    return _DUCK_TO_SPARK.get(s, f"<no spark twin: {s}>")


def _type_skews(schema, rel) -> dict[str, tuple[str | None, str | None]]:
    stypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    dtypes = dict(zip(rel.columns, (_canon_duck_type(t) for t in rel.types)))
    # int-vs-bigint passes the driver hash (both land as integer values);
    # everything else (HUGEINT, float-vs-double, decimal scale) must be exact.
    return {
        col: (stypes.get(col), dtypes.get(col))
        for col in set(stypes) | set(dtypes)
        if stypes.get(col) != dtypes.get(col)
        and {stypes.get(col), dtypes.get(col)} != {"int", "bigint"}
    }


@pytest.fixture(scope="module")
def type_skews() -> dict[str, dict]:
    """name -> the type skews ``test_query_matches_oracle`` found for it."""
    return {}


@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_matches_oracle(driver_spark, duck, type_skews, name):
    spec = REGISTRY[name]
    sdf = spec.fn(driver_spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(spec.oracle)
    duck_cols = rel.columns
    skews = type_skews[name] = _type_skews(sdf.schema, rel)
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} (spark) != {len(duck_rows)} (duckdb)"
    )
    cs, cd = _canon(spark_rows, spark_cols), _canon(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(cs, cd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[:3]}"
    assert not skews, f"{name}: oracle/spark result-type skew {skews}"


@pytest.mark.parametrize("name", list(REGISTRY))
def test_oracle_types_match_spark(type_skews, name):
    """The type-parity verdict of ``test_query_matches_oracle[name]``, under
    its own id. The check itself runs there, on the one DataFrame that test
    builds; this reports it without building the query again."""
    if name not in type_skews:
        pytest.skip(f"test_query_matches_oracle[{name}] did not reach its type check")
    assert not type_skews[name], f"{name}: oracle/spark result-type skew {type_skews[name]}"


def test_every_declared_query_has_an_oracle():
    """Since round 4 every declared query carries a DuckDB oracle
    (portable-hash SimHash, gated HLL). ``query()`` requires one; this pin
    also rejects an empty one."""
    assert [n for n, spec in REGISTRY.items() if not spec.oracle.strip()] == []


def test_driver_session_has_spark_defaults(spark, driver_spark):
    assert driver_spark.conf.get("spark.sql.ansi.enabled") == "true"
    assert driver_spark.conf.get("spark.sql.shuffle.partitions") == "200"
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    jcls = SparkSession._get_j_spark_session_class(spark._jvm)
    assert jcls.getActiveSession().get().equals(driver_spark._jsparkSession)


def test_spark_entry_contract(driver_spark):
    """What the driver calls: ``entry(spark)`` returns rows, ``queries()``
    is the whole registry and ``oracle_sql()`` every name's oracle."""
    import __spark_entry__

    assert len(__spark_entry__.entry(driver_spark).collect()) > 0
    assert set(__spark_entry__.queries()) == set(REGISTRY)
    assert set(__spark_entry__.oracle_sql()) == set(REGISTRY)
