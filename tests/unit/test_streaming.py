"""Streaming tests (SURVEY.md §2.9, §2.11 item 12): batch ≡ replayed-stream
equivalence and window semantics with no DuckDB analogue (session gap edge)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark import streaming
from tmdb_spark_data_pipeline_spark.sources.io import load_table


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _canon(df, cols):
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_batch_equals_replayed_stream_tumbling(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    batch = streaming.tumbling_agg(ev, "ts", "1 hour", ("event_type",), "value")
    stream = streaming.replay_events_tumbling(
        spark, f"{sf_smoke}/events.parquet", query_name="t_stream_eq"
    )
    cols = ["window_start", "event_type", "n", "total"]
    assert _canon(batch, cols) == _canon(stream, cols)


def test_batch_equals_replayed_stream_sliding(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    batch = streaming.sliding_agg(ev, "ts", "1 hour", "30 minutes", ("event_type",))
    stream = streaming.replay_events(
        spark,
        f"{sf_smoke}/events.parquet",
        lambda s: streaming.sliding_agg(s, "ts", "1 hour", "30 minutes", ("event_type",)),
        query_name="t_stream_sliding_eq",
    )
    cols = ["window_start", "event_type", "n"]
    assert _canon(batch, cols) == _canon(stream, cols)


def test_sliding_window_event_lands_in_two_windows(spark):
    df = spark.createDataFrame([("a", _ts("2024-01-01T00:40:00"))], ["k", "ts"])
    out = streaming.sliding_agg(df, "ts", "1 hour", "30 minutes", ("k",))
    starts = sorted(str(r.window_start) for r in out.collect())
    assert starts == ["2024-01-01 00:00:00", "2024-01-01 00:30:00"]


def test_session_window_merge_and_gap_boundary(spark):
    # Spark merges at exactly the gap boundary (window ranges touch); a new
    # session requires the gap to be STRICTLY exceeded — pinned here because
    # the events_sessions oracle depends on this exact semantic.
    df = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01T00:00:00")),
            ("u", _ts("2024-01-01T00:29:59")),  # merges
            ("u", _ts("2024-01-01T00:59:59")),  # exactly 30:00 after → still merges
            ("u", _ts("2024-01-01T01:30:00")),  # 30:01 after → new session
        ],
        ["user_id", "ts"],
    )
    out = streaming.session_agg(df, "ts", "30 minutes", ("user_id",))
    rows = sorted((str(r.session_start), str(r.session_end), r.n) for r in out.collect())
    assert rows == [
        ("2024-01-01 00:00:00", "2024-01-01 01:29:59", 3),
        ("2024-01-01 01:30:00", "2024-01-01 02:00:00", 1),
    ]


def test_tumbling_agg_decimal_total_is_exact(spark):
    df = spark.createDataFrame(
        [("a", _ts("2024-01-01T00:10:00"), 0.1)] * 10, ["k", "ts", "value"]
    )
    row = streaming.tumbling_agg(df, "ts", "1 hour", ("k",), "value").first()
    assert row.total == 1.0  # decimal sum: no float drift
    assert row.n == 10


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    # duplicated rows (same event_id) arriving within the watermark delay are
    # removed; state for expired keys is evicted instead of growing forever
    rows = [
        (1, "click", _ts("2024-01-01T00:00:00")),
        (1, "click", _ts("2024-01-01T00:00:30")),  # dup within delay → dropped
        (2, "view", _ts("2024-01-01T00:05:00")),
    ]
    src = spark.createDataFrame(rows, ["event_id", "event_type", "ts"])
    path = str(tmp_path / "dupe_events")
    src.write.parquet(path)
    stream = streaming.stream_from_parquet_dir(spark, path, src.schema).withWatermark(
        "ts", "10 minutes"
    )
    deduped = streaming.dedup_stream(stream, ("event_id",), within_watermark=True)
    streaming.run_stream_to_memory(deduped, "dedup_wm_mem", output_mode="append")
    out = spark.table("dedup_wm_mem")
    assert sorted(r.event_id for r in out.collect()) == [1, 2]


def test_replay_pair_union_dedup_equals_batch(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    batch = ev.groupBy("event_type").agg(F.count("*").alias("n"))

    def build(s1, s2):
        return (
            streaming.dedup_stream(s1.unionByName(s2), ("event_id",))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    stream = streaming.replay_events_pair(
        spark, f"{sf_smoke}/events.parquet", build,
        query_name="pair_dedup_mem", output_mode="complete",
    )
    assert _canon(batch, ["event_type", "n"]) == _canon(stream, ["event_type", "n"])


def test_epoch_overwrite_is_idempotent(spark, tmp_path):
    from tmdb_spark_data_pipeline_spark.streaming import sinks

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    out = str(tmp_path / "sink")
    sinks.write_epoch_overwrite(df, 0, out)
    sinks.write_epoch_overwrite(df, 0, out)  # retried epoch: same rows, not 2x
    assert spark.read.parquet(out).count() == 2
    sinks.write_epoch_overwrite(df, 1, out)  # next epoch appends its partition
    assert spark.read.parquet(out).count() == 4


def test_exactly_once_parquet_rerun_is_noop(spark, tmp_path):
    from tmdb_spark_data_pipeline_spark.streaming import sinks

    src_df = spark.createDataFrame([(i, i * 2) for i in range(10)], ["k", "v"])
    src = str(tmp_path / "src")
    src_df.write.parquet(src)
    stream = streaming.stream_from_parquet_dir(spark, src, src_df.schema)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sinks.run_exactly_once_parquet(stream, out, ckpt)
    assert spark.read.parquet(out).drop("__epoch").count() == 10
    # same checkpoint, no new input -> rerun writes nothing new
    stream2 = streaming.stream_from_parquet_dir(spark, src, src_df.schema)
    sinks.run_exactly_once_parquet(stream2, out, ckpt)
    assert spark.read.parquet(out).drop("__epoch").count() == 10


def test_progress_capture_listener_records_batches(spark, sf_smoke):
    from tmdb_spark_data_pipeline_spark import streaming
    from tmdb_spark_data_pipeline_spark.streaming import ProgressCapture

    import time

    cap = ProgressCapture().attach(spark)
    try:
        out = streaming.replay_events_tumbling(
            spark,
            f"{sf_smoke}/events.parquet",
            query_name="t_listener_probe",
        )
        out.collect()
        # listener delivery is asynchronous (driver event bus) — poll
        for _ in range(50):
            if any(r[0] == "t_listener_probe" for r in cap.rows):
                break
            time.sleep(0.2)
    finally:
        cap.detach(spark)
    mine = [r for r in cap.rows if r[0] == "t_listener_probe"]
    assert mine, "no progress captured for the probe query"
    # single-file replay = one data micro-batch carrying every event
    n_events = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert sum(r[2] for r in mine) == n_events
    assert all(r[4] >= 0 for r in mine)  # trigger latency present
    df = cap.to_df(spark)
    assert df.filter(df.query_name == "t_listener_probe").count() == len(mine)


def test_free_local_checkpoint_drops_blocks(spark):
    """ADVICE r11: per-epoch maintenance state must not accumulate one
    block-manager copy per epoch. ``free_local_checkpoint`` deterministically
    unpersists the RDD backing a superseded ``localCheckpoint`` (ContextCleaner
    would only reclaim it after nondeterministic Py4J + JVM GC), and is a
    safe no-op on a plain, non-checkpointed frame."""
    from tmdb_spark_data_pipeline_spark.session import free_local_checkpoint

    def persistent_ids() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    before = persistent_ids()
    ck = spark.range(100).selectExpr("id", "id * 2 AS y").localCheckpoint()
    assert len(persistent_ids() - before) == 1
    free_local_checkpoint(ck)
    assert persistent_ids() - before == set()
    plain = spark.range(10)
    free_local_checkpoint(plain)  # not a checkpoint: must not raise
    assert plain.count() == 10


def test_epoch_state_supersede_holds_one_live_checkpoint(spark):
    """The epoch-loop discipline used by stream_cc_maintenance /
    stream_minhash_cluster_maintenance: checkpoint the new state, free the
    superseded one — block-manager storage carries exactly ONE state copy
    at every point of a multi-epoch run, and the live copy stays readable
    after its predecessor is freed."""
    from tmdb_spark_data_pipeline_spark.session import free_local_checkpoint

    def persistent_ids() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    before = persistent_ids()
    state = None
    for epoch in range(4):
        new = spark.range(epoch * 10, epoch * 10 + 10).localCheckpoint()
        if state is not None:
            free_local_checkpoint(state)
        state = new
        assert len(persistent_ids() - before) == 1  # the live copy, only
    assert state.count() == 10  # survivor readable after all frees
    free_local_checkpoint(state)
    assert persistent_ids() - before == set()


def test_minhash_cluster_stream_survivors_end_to_end(spark, tmp_path):
    """The shared stream helper behind stream_minhash_cluster_maintenance /
    stream_keepone_maintenance, survivors=True, on a REAL AvailableNow
    file-source stream: (a) final labels equal batch CC and final survivors
    equal the batch keep-best-quality policy — doc 2 (last batch, equal
    quality, lower id) takes over cluster {2,4,6}, doc 9 (higher quality
    than lower-id doc 1) holds cluster {1,9}; (b) after the stream the
    block manager holds exactly TWO live checkpoints (current labels +
    current survivors) — the per-epoch frees (ADVICE r11) leave no
    superseded copies behind."""
    from pyspark.sql import functions as F

    from tmdb_spark_data_pipeline_spark.plans.queries import _minhash_cluster_stream
    from tmdb_spark_data_pipeline_spark.session import free_local_checkpoint

    def persistent_ids() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    base30 = " ".join(f"w{i}" for i in range(30))
    b_best = "the a " + " ".join(f"q{i}" for i in range(28))
    b_worse = "q0 q0 " + " ".join(f"q{i}" for i in range(28))
    rows = [
        (6, base30), (4, base30), (2, base30),
        (9, b_best), (1, b_worse),
        (7, " ".join(f"u{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    before = persistent_ids()
    state = _minhash_cluster_stream(
        spark, docs, str(tmp_path), "ko_stream_test", survivors=True
    )
    labels = {r.id: r.comp for r in state["labels"].collect()}
    surv = {
        r.comp: r.si
        for r in state["surv"].select("comp", F.col("__k.i").alias("si")).collect()
    }
    assert labels == {2: 2, 4: 2, 6: 2, 1: 1, 9: 1}
    assert surv == {2: 2, 1: 9}
    live = persistent_ids() - before
    assert len(live) == 2  # current labels + current survivors, nothing else
    free_local_checkpoint(state["labels"])
    free_local_checkpoint(state["surv"])
    assert persistent_ids() - before == set()


def test_stage_stream_batches_one_pass_layout(spark, tmp_path):
    # the single partitioned staging write must produce the same batch
    # files the old 3-filter-write loop did: one file per batch index,
    # full coverage, strictly increasing mtimes (stream replay order)
    import os

    from tmdb_spark_data_pipeline_spark.plans.queries import _stage_stream_batches

    df = spark.range(30).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    _stage_stream_batches(df, F.col("doc_id") % 3, src)
    files = sorted(os.listdir(src))
    assert files == ["batch_0.parquet", "batch_1.parquet", "batch_2.parquet"]
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    back = spark.read.parquet(src)
    assert back.count() == 30
    assert sorted(back.columns) == ["doc_id", "text"]
    for i in range(3):
        ids = {
            r.doc_id
            for r in spark.read.parquet(os.path.join(src, f"batch_{i}.parquet")).collect()
        }
        assert ids == {x for x in range(30) if x % 3 == i}


def test_stage_stream_batches_empty_slice_replays_every_batch(spark, tmp_path):
    # no row carries key 1: batch_1 is staged schema-only, and the stream
    # still replays three batches in index order (the middle one empty)
    import os

    from pyspark.sql import types as T

    from tmdb_spark_data_pipeline_spark.plans.queries import _stage_stream_batches

    df = spark.range(30).filter(F.col("id") % 3 != 1).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    _stage_stream_batches(df, F.col("doc_id") % 3, src)
    assert sorted(os.listdir(src)) == [f"batch_{i}.parquet" for i in range(3)]
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    epochs: list[list[int]] = []
    q = (
        streaming.stream_from_parquet_dir(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(
            lambda bdf, _: epochs.append(sorted(r.doc_id for r in bdf.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert epochs == [list(range(0, 30, 3)), [], list(range(2, 30, 3))]
