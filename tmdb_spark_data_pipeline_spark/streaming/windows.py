"""Streaming operators (SURVEY.md §2.9): the streaming twin of the batch
aggregations, designed so batch result ≡ replayed-stream result (the test
contract in SURVEY.md §2.11 item 12).

The reference is purely batch with `.done`-marker incrementality; its
idiomatic Spark upgrade is Structured Streaming with checkpoints
(``Trigger.AvailableNow`` covers the marker-file use case exactly).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.io import parquet_schema


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    group_cols: tuple[str, ...] = (),
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregation, batch or streaming input alike.

    Output: window_start, window_end, group cols, n, total (if value_col).
    Batch form ≡ DuckDB ``time_bucket``; streaming form is the same plan with
    a watermark upstream.
    """
    aggs = [F.count("*").alias("n")]
    if value_col:
        # decimal sum: deterministic under any partial-agg order (see
        # functions.money_sum) — required for batch ≡ stream equivalence.
        aggs.append(F.sum(F.col(value_col).cast("decimal(30,4)")).cast("double").alias("total"))
    return (
        df.groupBy(F.window(F.col(ts_col), duration), *group_cols)
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            *[F.col(c) for c in ("n", "total") if value_col or c == "n"],
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sliding-window counts (overlapping windows)."""
    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n",
        )
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_cols: tuple[str, ...],
) -> DataFrame:
    """Session-window aggregation (``session_window`` — dynamic windows that
    merge while events arrive within ``gap``)."""
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *group_cols,
            "n",
        )
    )


def stream_from_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    glob_filter: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the streaming twin of the
    reference's incremental bronze discovery, ``clean_transform.py:27-59``).

    The file source requires a *directory*; a single file is expressed as its
    parent dir + ``pathGlobFilter``.
    """
    reader = spark.readStream.schema(schema).format("parquet")
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def run_stream_to_memory(
    agg_df: DataFrame,
    query_name: str,
    *,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming aggregation to completion synchronously (memory
    sink + ``processAllAvailable``) — the local test/verification harness.
    Production sinks swap ``format``/``foreachBatch``; semantics unchanged.

    Stateful streaming disables AQE, so ``spark.sql.shuffle.partitions`` is
    taken literally as the state-store count — a session at the Spark default
    (200) pays for 200 tiny stores on a laptop-sized replay, and even the
    session's own parallelism (32) costs ~5× wall vs 8 on a stream-stream
    join (per-store open/commit dominates when state is kilobytes). Pin a
    small replay-sized count for the run, restore after. A production job
    sizes this to its cluster once at first checkpoint (the store count is
    sticky per checkpoint, so it is a deploy-time decision, not a harness
    one).
    """
    spark = agg_df.sparkSession
    if state_partitions is None:
        state_partitions = min(8, spark.sparkContext.defaultParallelism)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            agg_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(query_name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _as_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Normalize ``ts_col`` to Spark's watermarkable TIMESTAMP type.

    Two parquet encodings need rebuilding: ns-precision timestamps arrive as
    raw longs under ``nanosAsLong`` (micros rebuild), and TIMESTAMP_NTZ
    columns (isAdjustedToUTC=false) are rejected by ``withWatermark``
    outright — cast preserves the wall-clock reading in the session zone, so
    window boundaries match the batch/oracle computation over the same file.
    """
    dt = dict(stream.dtypes).get(ts_col)
    if dt == "bigint":
        return stream.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))
    if dt == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def replay_events(
    spark: SparkSession,
    parquet_path: str,
    build,
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    query_name: str = "events_replay",
    output_mode: str = "complete",
) -> DataFrame:
    """Replay a parquet events table through a real streaming query and
    return the (batch) result table: file source → watermark → ``build(df)``
    → memory sink. Used both by tests and as driver-visible queries.

    ``build`` receives the watermarked stream and returns the streaming
    transformation to run.
    """
    schema = parquet_schema(spark, parquet_path)
    agg = build(
        _event_stream(spark, parquet_path, schema, ts_col=ts_col, watermark=watermark)
    )
    run_stream_to_memory(agg, query_name, output_mode=output_mode)
    return spark.table(query_name)


def _event_stream(
    spark: SparkSession,
    parquet_path: str,
    schema: StructType,
    *,
    ts_col: str,
    watermark: str,
) -> DataFrame:
    """One watermarked file-source stream over an events parquet file/dir:
    ns-timestamp columns stream as raw longs (``parquet_schema`` sets
    ``nanosAsLong``), so the event-time column is rebuilt before the
    watermark."""
    if os.path.isfile(parquet_path):
        stream = stream_from_parquet_dir(
            spark, os.path.dirname(parquet_path), schema, glob_filter=os.path.basename(parquet_path)
        )
    else:
        stream = stream_from_parquet_dir(spark, parquet_path, schema)
    return _as_event_time(stream, ts_col).withWatermark(ts_col, watermark)


def replay_events_pair(
    spark: SparkSession,
    parquet_path: str,
    build,
    *,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    query_name: str = "events_pair",
    output_mode: str = "append",
) -> DataFrame:
    """Replay the same parquet source as TWO independent streams through
    ``build(s1, s2)`` — the stream-stream join harness. Two separate file
    sources (not a self-referencing branch) so each side tracks its own
    watermark, exactly as two real topics would."""
    schema = parquet_schema(spark, parquet_path)
    s1 = _event_stream(spark, parquet_path, schema, ts_col=ts_col, watermark=watermark)
    s2 = _event_stream(spark, parquet_path, schema, ts_col=ts_col, watermark=watermark)
    out = build(s1, s2)
    run_stream_to_memory(out, query_name, output_mode=output_mode)
    return spark.table(query_name)


def dedup_stream(stream: DataFrame, keys: tuple[str, ...], *, within_watermark: bool = False) -> DataFrame:
    """Streaming exactly-once dedup by key.

    ``within_watermark=False``: global dedup — state grows with distinct keys
    (correct for replays and bounded key spaces). ``True``: state evicted
    once the watermark passes (``dropDuplicatesWithinWatermark``) — the
    bounded-state form for unbounded streams at scale, correct whenever a
    duplicate can only arrive within the watermark delay of the original.
    """
    if within_watermark:
        return stream.dropDuplicatesWithinWatermark(list(keys))
    return stream.dropDuplicates(list(keys))


def replay_events_tumbling(
    spark: SparkSession,
    parquet_path: str,
    *,
    ts_col: str = "ts",
    duration: str = "1 hour",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str | None = "value",
    watermark: str = "1 hour",
    query_name: str = "events_tumbling",
) -> DataFrame:
    """Tumbling-window streaming twin of ``tumbling_agg`` (batch ≡ stream)."""
    return replay_events(
        spark,
        parquet_path,
        lambda s: tumbling_agg(s, ts_col, duration, group_cols, value_col),
        ts_col=ts_col,
        watermark=watermark,
        query_name=query_name,
    )
