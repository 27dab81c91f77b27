"""Unit tests for the round-4 batch: CDC last-state apply, finite-horizon
EWMA, weighted sampling (A-ES), heavy-hitter sketch candidates, and
cluster-blocked semantic dedup."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark.operators import (
    sampling,
    similarity,
    sketch,
    timeseries,
)

# ---------------------------------------------------------------------------
# last_state (CDC apply)
# ---------------------------------------------------------------------------


def _changelog(spark):
    rows = [
        # key 1: insert then update -> survives with v=20
        (1, 1, "upsert", 10.0),
        (1, 2, "upsert", 20.0),
        # key 2: upsert then tombstone -> gone
        (2, 3, "upsert", 30.0),
        (2, 4, "delete", None),
        # key 3: tombstone then re-insert -> resurrected with v=40
        (3, 5, "delete", None),
        (3, 6, "upsert", 40.0),
        # key 4: delete only -> never in state
        (4, 7, "delete", None),
    ]
    return spark.createDataFrame(rows, ["k", "seq", "op", "v"])


def test_last_state_tombstone_semantics(spark):
    out = timeseries.last_state(
        _changelog(spark), ("k",), ("seq",), op_col="op", delete_op="delete"
    )
    state = {r.k: r.v for r in out.collect()}
    assert state == {1: 20.0, 3: 40.0}


def test_last_state_without_op_col_keeps_every_key(spark):
    out = timeseries.last_state(_changelog(spark), ("k",), ("seq",))
    assert {r.k for r in out.collect()} == {1, 2, 3, 4}


def test_last_state_null_final_op_is_not_a_tombstone(spark):
    # A NULL op is "unknown", not a delete: `op != 'delete'` evaluates to
    # NULL for NULL ops and a plain filter would silently drop the key.
    rows = [
        (1, 1, "upsert", 10.0),
        (1, 2, None, 11.0),     # final op NULL -> key must SURVIVE
        (2, 3, "delete", None),  # real tombstone -> gone
    ]
    df = spark.createDataFrame(rows, "k int, seq int, op string, v double")
    out = timeseries.last_state(df, ("k",), ("seq",), op_col="op")
    state = {r.k: r.v for r in out.collect()}
    assert state == {1: 11.0}


# ---------------------------------------------------------------------------
# ewma_finite
# ---------------------------------------------------------------------------


def test_ewma_matches_hand_rolled_recursion(spark):
    xs = [10.0, 20.0, 15.0, 30.0, 25.0]
    df = spark.createDataFrame(list(enumerate(xs)), ["t", "x"])
    out = timeseries.ewma_finite(df, "x", "t", alpha=0.5, window=10)
    got = {r.t: r.ewma for r in out.collect()}
    # normalized finite EWMA == weighted mean with weights (1-a)^age
    lam = 0.5
    for t in range(len(xs)):
        w = [lam ** (t - i) for i in range(t + 1)]
        expect = sum(wi * xi for wi, xi in zip(w, xs)) / sum(w)
        assert math.isclose(got[t], expect, rel_tol=1e-12), (t, got[t], expect)


def test_ewma_window_truncation_drops_old_mass(spark):
    # 5 rows, window=2: only the trailing 2 values contribute
    df = spark.createDataFrame([(i, float(i)) for i in range(5)], ["t", "x"])
    out = timeseries.ewma_finite(df, "x", "t", alpha=0.5, window=2)
    got = {r.t: r.ewma for r in out.collect()}
    # at t=4: values [3, 4], weights [0.5, 1] -> (1.5+4)/1.5
    assert math.isclose(got[4], (0.5 * 3 + 4.0) / 1.5, rel_tol=1e-12)


def test_ewma_partitioned(spark):
    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0), ("b", 0, 100.0)], ["k", "t", "x"]
    )
    out = timeseries.ewma_finite(
        df, "x", "t", alpha=0.5, window=5, partition_cols=("k",)
    )
    got = {(r.k, r.t): r.ewma for r in out.collect()}
    assert math.isclose(got[("a", 1)], (0.5 * 1 + 3.0) / 1.5, rel_tol=1e-12)
    assert got[("b", 0)] == 100.0  # other key never leaks into the frame


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------


def test_weighted_sample_deterministic_and_sized(spark):
    df = spark.createDataFrame([(i, (i % 7) + 1) for i in range(200)], ["id", "w"])
    a = [r.id for r in sampling.weighted_sample(df, "w", "id", 25).collect()]
    b = [
        r.id
        for r in sampling.weighted_sample(
            df.repartition(7), "w", "id", 25
        ).collect()
    ]
    assert len(a) == 25
    assert sorted(a) == sorted(b)  # partitioning-independent


def test_weighted_sample_prefers_heavy_rows(spark):
    # two strata: weight 1000 vs weight 1 — the heavy stratum must dominate
    df = spark.createDataFrame(
        [(i, 1000 if i < 100 else 1) for i in range(200)], ["id", "w"]
    )
    got = [r.id for r in sampling.weighted_sample(df, "w", "id", 50).collect()]
    heavy = sum(1 for i in got if i < 100)
    assert heavy >= 45  # overwhelmingly from the heavy stratum


def test_weighted_sample_nonpositive_weights_never_sampled(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 10), (4, 10)], ["id", "w"]
    )
    got = {r.id for r in sampling.weighted_sample(df, "w", "id", 3).collect()}
    assert got == {3, 4}  # k=3 requested but only 2 valid rows exist


# ---------------------------------------------------------------------------
# heavy_hitter_candidates
# ---------------------------------------------------------------------------


def test_heavy_hitter_recall_guarantee(spark):
    # skewed stream: 'hot' = 40% of 5000 rows, tail of 500 singletons-ish
    rows = [("hot",)] * 2000 + [("warm",)] * 1000 + [
        (f"cold{i % 500}",) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["v"]).repartition(8)
    cand = sketch.heavy_hitter_candidates(df, "v", counters=10)
    vals = {r.value for r in cand.collect()}
    # N/(counters+1) = 5000/11 ≈ 455: hot (2000) and warm (1000) MUST appear
    assert {"hot", "warm"} <= vals


def test_heavy_hitter_counts_are_lower_bounds(spark):
    rows = [("a",)] * 900 + [("b",)] * 100
    df = spark.createDataFrame(rows, ["v"]).repartition(4)
    cand = {r.value: r.mg_count for r in sketch.heavy_hitter_candidates(
        df, "v", counters=5
    ).collect()}
    assert cand["a"] <= 900
    assert cand["a"] > 900 / 6  # it cleared the bar somewhere


def test_heavy_hitter_bounded_output(spark):
    # uniform over many values: nothing clears the per-batch bar except
    # values that are genuinely frequent within a batch; output stays small
    rows = [(f"v{i}",) for i in range(10_000)]
    df = spark.createDataFrame(rows, ["v"])
    cand = sketch.heavy_hitter_candidates(df, "v", counters=10)
    assert cand.count() == 0  # all singletons: no value exceeds any bar


# ---------------------------------------------------------------------------
# semantic dedup blocking (cluster-blocked pairs ⊆ exact pairs)
# ---------------------------------------------------------------------------


def test_cluster_blocked_pairs_subset_of_exact(spark, sf_smoke):
    from tmdb_spark_data_pipeline_spark.sources.io import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(emb, min_cos=0.4).collect()
    }
    assigned = similarity.kmeans_lloyd(emb, k=8, iters=1, dim=64)
    blocked_df = emb.join(assigned.select("vec_id", "cid"), "vec_id")
    blocked = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_pairs(
            blocked_df, min_cos=0.4, block_col="cid"
        ).collect()
    }
    assert blocked <= exact
    assert blocked  # and it actually finds same-cell near-dups


# ---------------------------------------------------------------------------
# stateful_last_state (streaming CDC merge)
# ---------------------------------------------------------------------------


def test_stream_cdc_matches_batch_last_state(spark, sf_smoke):
    from tmdb_spark_data_pipeline_spark import streaming
    from tmdb_spark_data_pipeline_spark.sources.io import load_table

    ev = load_table(spark, sf_smoke, "events")
    batch = {
        (r.user_id, r.event_type, r.value)
        for r in timeseries.last_state(
            ev, ("user_id",), ("ts", "event_id")
        ).collect()
    }
    out = streaming.replay_events(
        spark,
        f"{sf_smoke}/events.parquet",
        lambda s: streaming.stateful_last_state(s),
        query_name="t_cdc_state",
        output_mode="update",
    )
    got = {(r.user_id, r.last_op, r.last_value) for r in out.collect()}
    assert got == batch  # tombstones included: raw state parity


# ---------------------------------------------------------------------------
# combine_rollups (incremental view maintenance)
# ---------------------------------------------------------------------------


def test_combine_rollups_merge_equals_recompute(spark):
    from pyspark.sql import functions as SF

    from tmdb_spark_data_pipeline_spark.operators import agg as agg_ops

    df = spark.createDataFrame(
        [(i % 3, i, float(i) * 1.5) for i in range(100)], ["k", "seq", "v"]
    )

    def rollup(part):
        return part.groupBy("k").agg(
            SF.count("*").alias("n"),
            SF.sum(SF.col("v").cast("decimal(30,4)")).alias("total"),
            SF.max("seq").alias("hi"),
        )

    full = {tuple(r) for r in rollup(df).collect()}
    # merge must equal recompute for ANY split of history
    for cut in (0, 1, 37, 99, 100):
        merged = agg_ops.combine_rollups(
            [rollup(df.filter(SF.col("seq") < cut)),
             rollup(df.filter(SF.col("seq") >= cut))],
            ("k",),
            sum_cols=("n", "total"),
            max_cols=("hi",),
        )
        assert {tuple(r) for r in merged.collect()} == full, cut


def test_combine_rollups_three_way_and_empty_part(spark):
    from pyspark.sql import functions as SF

    from tmdb_spark_data_pipeline_spark.operators import agg as agg_ops

    df = spark.createDataFrame([(1, 10), (1, 20), (2, 5)], ["k", "v"])

    def rollup(part):
        return part.groupBy("k").agg(SF.sum("v").alias("s"))

    merged = agg_ops.combine_rollups(
        [rollup(df.filter("v = 10")), rollup(df.filter("v = 20")),
         rollup(df.filter("v = 5")), rollup(df.filter("v < 0"))],  # empty part is a no-op
        ("k",),
        sum_cols=("s",),
    )
    assert {(r.k, r.s) for r in merged.collect()} == {(1, 30), (2, 5)}


# ---------------------------------------------------------------------------
# write_bucketed_table stale-location recovery
# ---------------------------------------------------------------------------


def test_bucketed_overwrite_survives_stale_location(spark):
    import os
    import shutil

    from tmdb_spark_data_pipeline_spark.sources.io import write_bucketed_table

    df = spark.range(0, 10).select(F.col("id").alias("k"))
    write_bucketed_table(df, "t_stale_bkt", ("k",), 2)
    # simulate a NEW session: catalog forgets the table, directory remains
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(warehouse, "t_stale_bkt")
    spark.sql("DROP TABLE IF EXISTS t_stale_bkt")
    os.makedirs(loc, exist_ok=True)  # stale dir with no registration
    try:
        write_bucketed_table(df, "t_stale_bkt", ("k",), 2)  # must not raise
        assert spark.table("t_stale_bkt").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS t_stale_bkt")
        shutil.rmtree(loc, ignore_errors=True)


# ---------------------------------------------------------------------------
# point-in-time join composition (change_intervals + asof)
# ---------------------------------------------------------------------------


def test_pit_composition_none_before_first_interval(spark):
    import datetime as dt

    from tmdb_spark_data_pipeline_spark.operators import joins

    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    dim_events = spark.createDataFrame(
        [(1, ts(10), "bronze", 100), (1, ts(30), "gold", 101)],
        ["user_id", "ts", "tier", "event_id"],
    )
    purchases = spark.createDataFrame(
        [(900, 1, ts(5)),   # before any interval -> none
         (901, 1, ts(15)),  # inside bronze
         (902, 1, ts(30)),  # boundary: gold starts AT 00:30 (vf <= ts)
         (903, 1, ts(45))], # after last change -> gold (open interval)
        ["event_id", "user_id", "ts"],
    )
    iv = timeseries.change_intervals(
        dim_events, ("user_id",), "ts", "tier", tiebreak="event_id"
    ).select("user_id", F.col("valid_from").alias("vf"), F.col("tier").alias("state"))
    pit = joins.asof_join(
        purchases, iv, on="user_id", left_time="ts", right_time="vf",
        direction="backward", left_id="event_id", tiebreak="state",
    )
    got = {
        r["event_id"]: r["state"]
        for r in pit.select(F.col("l.event_id").alias("event_id"), F.col("r.state").alias("state")).collect()
    }
    assert got == {900: None, 901: "bronze", 902: "gold", 903: "gold"}


def test_cm_sketch_overestimates_and_merges(spark):
    """Count-Min invariants: estimate >= exact for every probe, and the
    sketch of a union equals the summed sketches of the parts (mergeable)."""
    from pyspark.sql import functions as F

    from tmdb_spark_data_pipeline_spark.operators import sketch

    vals = [("a",)] * 50 + [("b",)] * 20 + [("c",)] * 5 + [(f"x{i}",) for i in range(200)]
    df = spark.createDataFrame(vals, ["v"])
    cm = sketch.cm_sketch(df, "v", width=32, depth=4)  # narrow → collisions likely
    exact = df.groupBy("v").agg(F.count("*").alias("n"))
    probes = exact.filter(F.col("v").isin("a", "b", "c"))
    est = {r.v: (r.n, r.cm_estimate) for r in sketch.cm_estimate(cm, probes, "v", width=32, depth=4).collect()}
    for v, (n, e) in est.items():
        assert e >= n, (v, n, e)
    assert est["a"][1] >= 50 and est["b"][1] >= 20
    # mergeability: sketch(part1) + sketch(part2) == sketch(whole)
    p1 = spark.createDataFrame(vals[:100], ["v"])
    p2 = spark.createDataFrame(vals[100:], ["v"])
    merged = (
        sketch.cm_sketch(p1, "v", width=32, depth=4)
        .unionByName(sketch.cm_sketch(p2, "v", width=32, depth=4))
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
    )
    whole = {(r.r, r.b): r.c for r in cm.collect()}
    got = {(r.r, r.b): r.c for r in merged.collect()}
    assert got == whole


def test_cm_estimate_absent_probe_returns_zero(spark):
    """Point-estimate contract for out-of-stream probes (ADVICE r6): a
    probe value absent from the stream must appear in the output, and if
    ANY of its buckets has no counter row the estimate floors at 0 —
    never the min over only the occupied buckets, and never a dropped
    row. A wide sketch over a tiny stream guarantees empty buckets."""
    from tmdb_spark_data_pipeline_spark.operators import sketch

    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["v"])
    cm = sketch.cm_sketch(df, "v", width=4096, depth=4)
    probes = spark.createDataFrame(
        [("a",), ("never-seen-1",), ("never-seen-2",)], ["v"]
    )
    est = {
        r.v: r.cm_estimate
        for r in sketch.cm_estimate(cm, probes, "v", width=4096, depth=4).collect()
    }
    assert set(est) == {"a", "never-seen-1", "never-seen-2"}  # no dropped probes
    assert est["a"] >= 2
    # 3 distinct values -> at most 3 occupied buckets per row out of 4096;
    # an unseen value hits 4 empty buckets with overwhelming probability,
    # and min(coalesce(c,0)) must floor at 0 even if one bucket collides.
    assert est["never-seen-1"] == 0
    assert est["never-seen-2"] == 0


def test_poisson_bootstrap_weights_deterministic_and_calibrated(spark):
    """Weights replay the md5+threshold math exactly (python model), are
    stable across calls, and the empirical weight distribution over a few
    thousand (row, rep) draws is near Poisson(1): mean ~1, P(0) ~ e^-1."""
    import hashlib

    from tmdb_spark_data_pipeline_spark.operators.sampling import (
        POISSON1_CDF_MICRO,
        poisson_bootstrap_weights,
    )

    df = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    out = poisson_bootstrap_weights(df, "k", b=32)
    rows = out.collect()
    assert len(rows) == 3200

    def model(key, rep):
        u = int(hashlib.md5(f"{key}:{rep}".encode()).hexdigest()[:8], 16) % 1000000
        for k, thr in enumerate(POISSON1_CDF_MICRO):
            if u < thr:
                return k
        return 5

    got = {(r.k, r.rep): r.w for r in rows}
    assert got == {(k, rep): model(k, rep) for k in range(100) for rep in range(32)}
    ws = list(got.values())
    mean = sum(ws) / len(ws)
    p0 = sum(1 for w in ws if w == 0) / len(ws)
    assert 0.93 < mean < 1.07
    assert 0.33 < p0 < 0.41
    again = {(r.k, r.rep): r.w for r in poisson_bootstrap_weights(df, "k", b=32).collect()}
    assert again == got


def test_conformal_intervals_coverage_and_partition(spark):
    """Deterministic structural pins for conformal_value_intervals at
    sf0.001: splits partition each type exactly, qhat > 0, and held-out
    coverage sits in the conformal band around 1-alpha = 0.9 (wide bound:
    n_test per type is small at this SF; the value is a FIXED number, not
    a random draw)."""
    from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY
    from tmdb_spark_data_pipeline_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["conformal_value_intervals"].fn(spark, sf).collect()
    totals = {
        r.event_type: r.n
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {r.event_type for r in rows} == set(totals)
    for r in rows:
        assert r.n_train + r.n_calib + r.n_test == totals[r.event_type]
        assert r.qhat > 0
        assert 0.78 <= r.coverage <= 1.0, r


def test_order_price_jackknife_matches_python_model(spark, sf_smoke):
    """Replay the delete-one-stratum jackknife exactly in python (same
    strata, same decimal→double rounding points) and compare; also pin
    the J=10 stratum count and that SE > 0 wherever J > 1."""
    from collections import defaultdict

    from tmdb_spark_data_pipeline_spark.plans.queries import (
        order_price_jackknife_se,
    )
    from tmdb_spark_data_pipeline_spark.sources.io import load_table

    rows = load_table(spark, sf_smoke, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    ).collect()
    st = defaultdict(lambda: defaultdict(lambda: [0.0, 0]))
    for r in rows:
        cell = st[r.o_orderpriority][r.o_orderkey % 10]
        cell[0] += float(r.o_totalprice)
        cell[1] += 1
    got = {r.o_orderpriority: r for r in order_price_jackknife_se(
        spark, sf_smoke
    ).collect()}
    for prio, cells in st.items():
        S = sum(c[0] for c in cells.values())
        N = sum(c[1] for c in cells.values())
        J = len(cells)
        thetas = [round((S - c[0]) / (N - c[1]), 12) for c in cells.values()]
        tbar = sum(thetas) / J
        var = sum(round((t - tbar) ** 2, 12) for t in thetas) * (J - 1) / J
        r = got[prio]
        assert r.n_orders == N and r.n_strata == J
        assert abs(r.mean_price - round(S / N, 6)) < 1e-4
        assert abs(r.jack_se - round(var ** 0.5, 6)) < 1e-4
        if J > 1:
            assert r.jack_se > 0
