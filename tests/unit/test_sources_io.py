"""Parquet footer memo: a local file's schema is inferred once per file
version and session inference confs, then passed to every later read."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tmdb_spark_data_pipeline_spark.sources.io import load_table, parquet_schema


def test_second_load_of_unchanged_file_runs_no_job(spark, jobs_run, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3], "s": ["a", "b", None]}), tmp_path / "t.parquet")
    first = load_table(spark, str(tmp_path), "t")
    second, jobs = jobs_run(lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_gets_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    pq.write_table(pa.table({"k": ["x", "y", "z"], "v": [0.5, 1.5, 2.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [("k", "string"), ("v", "double")]
    assert sorted(df.collect()) == [("x", 0.5), ("y", 1.5), ("z", 2.5)]


def test_ns_timestamp_rebuilt_on_memo_hit(spark, jobs_run, tmp_path):
    ts = pa.array([1_704_067_200_123_456_789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1], "ts": ts}), tmp_path / "ev.parquet")
    load_table(spark, str(tmp_path), "ev")
    hit, jobs = jobs_run(lambda: load_table(spark, str(tmp_path), "ev"))
    assert jobs == 0
    assert hit.schema["ts"].dataType.simpleString() == "timestamp"
    # µs truncation, as DuckDB reads the same column
    assert hit.selectExpr("date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')").first()[0] == (
        "2024-01-01 00:00:00.123456"
    )


def test_inference_confs_key_the_memo(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], type=pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    other = spark.newSession()
    assert spark.conf.get(conf) == other.conf.get(conf) == "false"
    assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"
    other.conf.set(conf, "true")
    assert parquet_schema(other, path)["b"].dataType.simpleString() == "string"
    assert parquet_schema(spark, path)["b"].dataType.simpleString() == "binary"


def test_directory_input_infers_without_fixup(spark, tmp_path):
    root = tmp_path / "t.parquet"
    os.makedirs(root)
    pq.write_table(pa.table({"k": [7]}), root / "part-0.parquet")
    assert load_table(spark, str(tmp_path), "t").collect() == [(7,)]
    assert parquet_schema(spark, str(root)).fieldNames() == ["k"]


def test_footer_read_failure_on_local_file_raises(spark, tmp_path, monkeypatch):
    # a swallowed footer error would skip the ns fixup and return raw longs
    pq.write_table(pa.table({"k": [1]}), tmp_path / "t.parquet")

    def unreadable(path):
        raise OSError(f"cannot read footer of {path}")

    monkeypatch.setattr(pq, "read_schema", unreadable)
    with pytest.raises(OSError, match="cannot read footer"):
        load_table(spark, str(tmp_path), "t")


def test_parquet_schema_reads_ns_timestamps_in_a_session_without_the_conf(spark, tmp_path):
    # Spark rejects a timestamp[ns] column unless nanosAsLong is set;
    # parquet_schema sets it itself instead of relying on its caller
    ts = pa.array([1_704_067_200_123_456_789], type=pa.timestamp("ns"))
    path = str(tmp_path / "ev.parquet")
    pq.write_table(pa.table({"id": [1], "ts": ts}), path)
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    other = spark.newSession()
    other.conf.unset(conf)
    assert other.conf.get(conf, "false") == "false"
    assert parquet_schema(other, path)["ts"].dataType.simpleString() == "bigint"
