"""The declared query surface (SURVEY.md §2.11): every operator the engine
claims, written once in PySpark (via the operator library) and once in ANSI
SQL for the DuckDB oracle; every query carries both. The driver runs both at
sf=0.01 and compares row-count + schema + order-insensitive value-hash, in the
order ``__spark_entry__.queries()`` derives from its recorded windows.

Determinism rules (SURVEY.md §7 "hard parts") applied throughout:

- every money-ish double aggregate goes through ``decimal(30,4)`` before the
  sum so partial-agg order can't flip a rounded digit (both engines),
- every top-k has ``NULLS LAST`` + a total-order tie-breaker: fixed-n
  top-k goes through ``rank.top_k`` (global) or ``rank.top_n_per_group``
  (per group, or ``group_cols=()`` for a numbered global top-n), which
  own that rule,
- timestamps/dates in outputs are formatted to strings (engine-neutral),
- ratios are rounded at a fixed scale in both implementations.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money_sum
from ..operators import (
    calibrate,
    cleaning,
    dedup,
    funnel,
    joins,
    packing,
    profile,
    rank,
    sampling,
    search,
    setops,
    similarity,
    sketch,
    text,
    timeseries,
)
from ..sources.io import load_table, parquet_schema, read_parquet
from ..streaming import replay_events_tumbling

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL over the same tables


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _run_tmp(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Per-run scratch path for queries that materialize an artifact
    mid-flight (index roundtrips, format sinks, stream checkpoints): keyed
    by the Spark applicationId IN ADDITION to tag + SF basename, so
    concurrent runs on one machine can never overwrite each other's
    artifact mid-read, and a path pre-created by another local user can't
    collide (tmp hygiene). Stable within one application, so a query
    re-executed in the same session reuses — and overwrites — its own
    location rather than littering. The per-application scratch tree is
    removed at interpreter exit (atexit), so runs don't accumulate stale
    artifact/checkpoint directories in the system tempdir across
    applications (ADVICE r10); leftovers from crashed prior runs (different
    appId, provably idle for >24 h) are swept on this application's first
    call. Liveness of a foreign tree is judged by the NEWEST mtime of a
    shallow walk plus the owner's heartbeat file — a directory's own mtime
    only reflects direct-child changes, so a live streaming
    checkpointLocation (whose writes land two levels down) would look idle
    at the top level (ADVICE r11); every ``_run_tmp`` call also touches
    ``spark_graft_<appId>_heartbeat`` so an application that only READS
    its scratch after startup still advertises liveness each time any of
    its queries runs."""
    import os
    import tempfile

    base = tempfile.gettempdir()
    app_id = spark.sparkContext.applicationId
    _register_tmp_cleanup(base, app_id)
    # refresh this application's liveness beacon on every call (cheap):
    # the foreign-sweep below spares any appId whose heartbeat is fresh,
    # even if its scratch artifacts have old mtimes (written once at
    # startup, read-only since — reads never touch mtime)
    hb = os.path.join(base, f"spark_graft_{app_id}_heartbeat")
    try:
        with open(hb, "a"):
            os.utime(hb, None)
    except OSError:
        pass
    return os.path.join(
        base,
        f"spark_graft_{app_id}_{tag}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}",
    )


_TMP_CLEANUP_APPS: set[str] = set()


def _newest_mtime_shallow(path: str, depth: int = 2) -> float:
    """Newest mtime over ``path`` and a shallow walk of its contents
    (``depth`` levels of scandir). Depth 2 is enough to see a live
    streaming checkpoint: a commit written at ``ckpt/commits/42`` bumps
    ``ckpt/commits``'s mtime, which level 1 observes."""
    import os

    newest = 0.0
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return newest
    if depth <= 0 or not os.path.isdir(path):
        return newest
    try:
        with os.scandir(path) as it:
            for e in it:
                try:
                    newest = max(newest, e.stat().st_mtime)
                    if e.is_dir(follow_symlinks=False) and depth > 1:
                        newest = max(
                            newest, _newest_mtime_shallow(e.path, depth - 1)
                        )
                except OSError:
                    continue
    except OSError:
        pass
    return newest


def _register_tmp_cleanup(base: str, app_id: str) -> None:
    """Once per application: (1) atexit-remove every spark_graft_<appId>_*
    scratch directory this run created (heartbeat included), (2) sweep
    leftovers of OTHER application ids that are provably idle — newest
    shallow-walk mtime AND owner heartbeat both older than a day."""
    if app_id in _TMP_CLEANUP_APPS:
        return
    _TMP_CLEANUP_APPS.add(app_id)
    import atexit
    import glob
    import os
    import shutil
    import time

    mine = os.path.join(base, f"spark_graft_{app_id}_*")

    def _sweep_mine() -> None:
        for p in glob.glob(mine):
            shutil.rmtree(p, ignore_errors=True)
            if os.path.isfile(p):
                try:
                    os.remove(p)
                except OSError:
                    pass

    atexit.register(_sweep_mine)
    now = time.time()
    # fresh heartbeat prefixes ("spark_graft_<owner>_") — prefix matching
    # instead of parsing the owner out of the dirname, because appIds may
    # themselves contain underscores (YARN: application_168..._0001)
    live_prefixes = []
    for h in glob.glob(os.path.join(base, "spark_graft_*_heartbeat")):
        try:
            if now - os.path.getmtime(h) <= 86400:
                live_prefixes.append(os.path.basename(h)[: -len("heartbeat")])
        except OSError:
            pass
    for p in glob.glob(os.path.join(base, "spark_graft_*")):
        name = os.path.basename(p)
        if name.startswith(f"spark_graft_{app_id}_"):
            continue
        try:
            if now - _newest_mtime_shallow(p) <= 86400:
                continue
            # the tree looks idle — spare it if its owner advertises a
            # fresh heartbeat (live app whose scratch is read-only since
            # startup: reads never touch mtime)
            if any(name.startswith(pref) for pref in live_prefixes):
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        except OSError:
            pass


def _stage_stream_batches(df: DataFrame, key, src: str, *, n: int = 3) -> None:
    """Slice ``df`` into ``n`` single-file batch parquets under ``src`` in
    ONE pass: a single partitioned write (one scan + one shuffle on the
    batch key) replaces ``n`` filtered ``coalesce(1)`` writes (``n`` full
    scans of the source subtree — guide §2.4). ``key`` must be an integer
    column expression in ``[0, n)``; each value's lone output file is moved
    to ``src/batch_<i>.parquet`` with strictly increasing mtimes so the
    file-source stream (which orders by timestamp) replays batches in
    index order, exactly as the old per-batch write loop did. A value no row
    carries gets a schema-only empty batch file, so the stream still
    replays ``n`` batches."""
    import os
    import shutil
    import time
    from glob import glob as _glob

    staged = f"{src}_staged"
    shutil.rmtree(staged, ignore_errors=True)
    (
        df.withColumn("__b", key)
        .repartition(n, "__b")
        .write.mode("overwrite")
        .partitionBy("__b")
        .parquet(staged)
    )
    now = time.time()
    for i in range(n):
        files = _glob(f"{staged}/__b={i}/part-*.parquet")
        if not files:
            empty = f"{staged}/__empty={i}"
            df.sparkSession.createDataFrame([], df.schema).write.parquet(empty)
            files = _glob(f"{empty}/part-*.parquet")
        if len(files) != 1:  # pragma: no cover - staging invariant
            raise RuntimeError(f"expected 1 file for batch {i}, got {files}")
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(files[0], dst)
        os.utime(dst, (now + i, now + i))
    shutil.rmtree(staged, ignore_errors=True)


# exact decimal sum of a double expression, surfaced as double (see module doc)
def _dsum(c, scale: int = 4) -> F.Column:
    return money_sum(c, scale).cast("double")


# ---------------------------------------------------------------------------
# 1. scan / project / filter / derived metrics (§2.11 items 1, 4)
# ---------------------------------------------------------------------------


@query(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
           l_extendedprice * (1 - l_discount) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount > 0.05 AND l_quantity < 24
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed scan + range/threshold predicates + per-row arithmetic (P1/P7,
    F10). Filters and the 6-column projection push down to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") > 0.05)
        & (F.col("l_quantity") < 24)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@query(
    "derived_metrics",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CASE WHEN l_quantity >= 1 THEN l_extendedprice / l_quantity END AS price_per_unit
    FROM lineitem
    """,
)
def derived_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's profit/ROI pattern (kpis.py:54-62) over lineitem:
    guarded derived columns in one projection (F10/F11)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ppu = F.when(F.col("l_quantity") >= 1, F.col("l_extendedprice") / F.col("l_quantity"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.alias("revenue"),
        (rev * (1 + F.col("l_tax"))).alias("charge"),
        ppu.alias("price_per_unit"),
    )


@query(
    "cleaning_normalize",
    oracle="""
    WITH cleaned AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN value >= 1.0 THEN value END AS value_clean,
             TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS props_k
      FROM events
    )
    SELECT * FROM cleaned
    WHERE (CASE WHEN event_id   IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN user_id    IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN value_clean IS NOT NULL THEN 1 ELSE 0 END
         + CASE WHEN props_k    IS NOT NULL THEN 1 ELSE 0 END) >= 5
    """,
)
def cleaning_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning pipeline (§2.11 item 2): threshold nulling (clean_transform.py:
    124-129 pattern), semi-structured extraction, completeness filter (P8)."""
    ev = _t(spark, sf_dir, "events")
    cleaned = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("value") >= 1.0, F.col("value")).alias("value_clean"),
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("props_k"),
    )
    return cleaning.completeness_filter(cleaned, 5)


@query(
    "dedup_by_key",
    oracle="""
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS first_order_date, o_totalprice
    FROM (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup-by-key (P9 with the keep-policy fix): first order
    per customer, ties broken on orderkey."""
    o = _t(spark, sf_dir, "orders")
    first = cleaning.dedup_by_key(o, ("o_custkey",), tiebreak=(F.col("o_orderdate"), F.col("o_orderkey")))
    return first.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_order_date"),
        "o_totalprice",
    )


# ---------------------------------------------------------------------------
# 2. top-k / grouped top-n (§2.11 items 5, 7)
# ---------------------------------------------------------------------------


@query(
    "top_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 10
    """,
)
def top_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (T1/T2, kpis.py:65-76) → TakeOrderedAndProject."""
    o = _t(spark, sf_dir, "orders")
    return rank.top_k(o, "o_totalprice", order="desc", k=10, tiebreak=("o_orderkey",)).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )


@query(
    "bottom_orders_by_price",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice ASC NULLS LAST, o_orderkey ASC
    LIMIT 10
    """,
)
def bottom_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ascending top-k with NULLS LAST — fixes the reference's unguarded
    lowest_* ranking (SURVEY §2.5)."""
    o = _t(spark, sf_dir, "orders")
    return rank.top_k(o, "o_totalprice", order="asc", k=10, tiebreak=("o_orderkey",)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "grouped_topn",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS rnk
      FROM orders
    ) WHERE rnk <= 2
    """,
)
def grouped_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-n per group (§2.7): the windowed generalization of rank_movies."""
    o = _t(spark, sf_dir, "orders")
    out = rank.top_n_per_group(
        o, ("o_custkey",), "o_totalprice", order="desc", n=2, tiebreak=("o_orderkey",), rank_col="rnk"
    )
    return out.select("o_custkey", "o_orderkey", "o_totalprice", F.col("rnk").cast("long"))


# ---------------------------------------------------------------------------
# 3. aggregation (§2.11 item 6)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity      AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(CAST(l_quantity      AS DECIMAL(30,4))) AS DOUBLE) / count(*), 2) AS avg_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / count(*), 2) AS avg_price,
           round(CAST(sum(CAST(l_discount      AS DECIMAL(30,4))) AS DOUBLE) / count(*), 2) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (A1-A3 generalized): hash aggregate with partial
    (map-side) combine; decimal sums for order-independent results."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-09-02")
    n = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(_dsum(F.col("l_quantity")), 2).alias("sum_qty"),
        F.round(_dsum(F.col("l_extendedprice")), 2).alias("sum_base_price"),
        F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(_dsum(F.col("l_quantity")) / n, 2).alias("avg_qty"),
        F.round(_dsum(F.col("l_extendedprice")) / n, 2).alias("avg_price"),
        F.round(_dsum(F.col("l_discount")) / n, 2).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "orders_priority_agg",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_total,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / count(*), 2) AS avg_total,
           round(median(o_totalprice), 2) AS median_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def orders_priority_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate group-by incl. exact median (A1 pattern with the
    percentile_approx → exact percentile determinism fix, SURVEY §7)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("sum_total"),
        F.round(_dsum(F.col("o_totalprice")) / F.count("*"), 2).alias("avg_total"),
        F.round(F.median("o_totalprice"), 2).alias("median_total"),
    )


@query(
    "orders_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_total
    FROM orders GROUP BY 1
    """,
)
def orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-by on a derived time key (A4, visualize.py:114-120)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("sum_total"),
    )


@query(
    "franchise_style_agg",
    oracle="""
    SELECT CASE WHEN c_acctbal > 5000 THEN 'HighBalance' ELSE 'Standard' END AS segment_flag,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(*), 2) AS mean_acctbal,
           round(median(c_acctbal), 2) AS median_acctbal
    FROM customer
    GROUP BY 1
    """,
)
def franchise_style_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's franchise-vs-standalone shape (A1, kpis.py:125-142):
    a when/otherwise derived grouping key + multi-aggregate."""
    c = _t(spark, sf_dir, "customer")
    flag = F.when(F.col("c_acctbal") > 5000, "HighBalance").otherwise("Standard")
    return (
        c.withColumn("segment_flag", flag)
        .groupBy("segment_flag")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(_dsum(F.col("c_acctbal")) / F.count("*"), 2).alias("mean_acctbal"),
            F.round(F.median("c_acctbal"), 2).alias("median_acctbal"),
        )
    )


@query(
    "rollup_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregates (rollup) — beyond the reference's surface."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(_dsum(F.col("l_quantity")), 2).alias("sum_qty"),
    )


@query(
    "cube_lineitem",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grouping-sets lattice (cube) — all 2^k grouping combinations in
    one pass (Catalyst expands to a single Expand + hash aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(_dsum(F.col("l_quantity")), 2).alias("sum_qty"),
    )


@query(
    "distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
    FROM lineitem GROUP BY 1
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent from the reference, §2.4)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@query(
    "approx_distinct_parts",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY 1
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB path for distinct counts (no
    shuffle of the distinct keys, fixed-size sketch) — with a driver-visible
    accuracy gate (the ``hll_mergeable_rollup`` pattern): the exact distinct
    count is hash-matched by the oracle, and the HLL++ estimate (rsd=0.01)
    must land within ±5% of it or the boolean flips and fails the hash. HLL
    values themselves are engine-specific, so the sketch is BOUNDED by the
    oracle rather than compared to it (rows-only until round 4)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey", 0.01).alias("__approx"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("__approx") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("within_5pct"),
    )


@query(
    "having_big_customers",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY 1 HAVING count(*) >= 15
    """,
)
def having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + post-aggregation filter (HAVING)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


@query(
    "pivot_event_types",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY 1
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with explicit value list — explicit values
    keep the plan static (no extra distinct-values job) at scale."""
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )
    return out


# ---------------------------------------------------------------------------
# 4. joins / set ops (§2.11 items 8, 9)
# ---------------------------------------------------------------------------


@query(
    "revenue_by_region",
    oracle="""
    SELECT r_name, n_name,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table star join (TPC-H Q5 shape). nation/region broadcast
    (tiny dims); lineitem⋈orders is the only real shuffle — AQE handles
    skew/coalesce. This is the engine's flagship query."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("r_name", "n_name").agg(
        F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1996-06-01' AND l_shipdate > TIMESTAMP '1996-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC NULLS LAST, l_orderkey ASC
    LIMIT 10
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → aggregate → top-k.
    Customer side shrinks before the join (filter pushdown), the aggregate
    output feeds TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-06-01").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-06-01")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return rank.top_k(agg, "revenue", order="desc", k=10, tiebreak=("l_orderkey",)).select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        "o_orderpriority",
    )


@query(
    "supplier_revenue_by_nation",
    oracle="""
    SELECT n_name,
           count(DISTINCT s_suppkey) AS n_suppliers,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def supplier_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side star join (TPC-H Q5's other arm): both dims broadcast,
    the fact table never shuffles for the joins."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice", "l_discount")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count_distinct("s_suppkey").alias("n_suppliers"),
            F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@query(
    "range_join_click_context",
    oracle="""
    SELECT p.event_id AS p_event_id,
           count(c.event_id) AS n_recent_clicks
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '5 minutes' AND c.ts < p.ts
    GROUP BY p.event_id
    """,
)
def range_join_click_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per purchase, the same user's clicks in the preceding
    5 minutes. Equi on user_id (the shuffle key) + range residual — scales as
    a shuffled equi-join, not a nested loop."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"), F.col("user_id"), F.col("ts").alias("c_ts")
    )
    # range predicate lives IN the join condition (an outer join followed by
    # a filter would drop purchases whose user has only out-of-range clicks);
    # Spark extracts the equality for the shuffle and applies the range as a
    # residual join filter.
    cond = (
        (p.user_id == c.user_id)
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    joined = p.join(c, cond, "left")
    return joined.groupBy("p_event_id").agg(F.count("c_event_id").alias("n_recent_clicks"))


@query(
    "promo_revenue_pct",
    oracle="""
    SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END AS DECIMAL(30,4))) AS DOUBLE)
               / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE),
               2) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a join (TPC-H Q14 shape); part side
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-03-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.round(100.0 * _dsum(promo) / _dsum(rev), 2).alias("promo_pct"))
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.join(c, o, ["c_custkey"], "left_anti").select("c_custkey", "c_name")


@query(
    "customer_order_counts",
    oracle="""
    SELECT c_custkey, c_mktsegment, n_orders FROM customer
    JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1) o
      ON c_custkey = o_custkey
    """,
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join to a pre-aggregated side — aggregate-before-join keeps
    the shuffled payload minimal (100 TB habit: reduce, then join)."""
    c = _t(spark, sf_dir, "customer")
    counts = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    return c.join(counts, "c_custkey").select("c_custkey", "c_mktsegment", "n_orders")


@query(
    "left_join_nation_counts",
    oracle="""
    SELECT n_name, count(c_custkey) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def left_join_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched dimension rows."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@query(
    "setop_union",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return setops.union_by_name([a, b], distinct=True)


@query(
    "setop_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return setops.intersect_distinct(a, b)


@query(
    "setop_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return setops.except_distinct(a, b)


_ASOF_LAST_CLICK_ORACLE = """
    SELECT p_event_id, user_id, c_event_id, c_value FROM (
      SELECT p.event_id AS p_event_id, p.user_id AS user_id,
             c.event_id AS c_event_id, c.value AS c_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    """


@query("asof_purchase_last_click", oracle=_ASOF_LAST_CLICK_ORACLE)
def asof_purchase_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward): for each purchase, the same user's most recent
    click at-or-before it. Spark lacks a native as-of join; composed from a
    range-condition join + windowed dedup (operators/joins.py)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    out = joins.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        direction="backward",
        left_id="event_id",
        tiebreak="event_id",
    )
    return out.select(
        F.col("l.event_id").alias("p_event_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_id").alias("c_event_id"),
        F.col("r.value").alias("c_value"),
    )


# ---------------------------------------------------------------------------
# 5. explode / search / window functions (§2.11 items 10, 11 + analytic wins)
# ---------------------------------------------------------------------------


@query(
    "word_counts_top20",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def word_counts_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + re-aggregate (F16/A6 — the reference does this in pandas;
    here it's distributed) + deterministic top-k on the aggregate."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word")).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    return rank.top_k(counts, "n", order="desc", k=20, tiebreak=("word",))


# The unigram tokenizer's frequency-initialized inventory: per-language
# word counts `lcnt`, word types `wcnt`, every character + the 40 most
# frequent 2..3-char substrings with round(-ln(p)·1e6) costs, as the map `vm`.
_UNIGRAM_COSTS_CTES = """
    WITH RECURSIVE w0 AS (
      SELECT lang, word FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''),
    lcnt AS MATERIALIZED (SELECT lang, word, count(*) AS lc FROM w0 GROUP BY 1, 2),
    wcnt AS MATERIALIZED (SELECT word, sum(lc) AS cnt FROM lcnt GROUP BY 1),
    sub AS (
      SELECT piece, sum(cnt) AS total FROM (
        SELECT unnest(list_transform(generate_series(1, len(word)),
                                     i -> substr(word, i, 1))) AS piece, cnt
        FROM wcnt
        UNION ALL
        SELECT unnest(list_transform(generate_series(1, len(word) - 1),
                                     i -> substr(word, i, 2))), cnt
        FROM wcnt
        UNION ALL
        SELECT unnest(list_transform(generate_series(1, len(word) - 2),
                                     i -> substr(word, i, 3))), cnt
        FROM wcnt)
      GROUP BY 1),
    vocab AS MATERIALIZED (
      SELECT piece, total FROM sub WHERE len(piece) = 1
      UNION ALL
      SELECT piece, total FROM (
        SELECT piece, total,
               row_number() OVER (ORDER BY total DESC, piece ASC) AS rn
        FROM sub WHERE len(piece) > 1) WHERE rn <= 40),
    tot AS (SELECT sum(total) AS T FROM vocab),
    costs AS MATERIALIZED (
      SELECT piece,
             CAST(round(-ln(CAST(total AS DOUBLE) / CAST(T AS DOUBLE))
                        * 1000000, 0) AS BIGINT) AS c
      FROM vocab CROSS JOIN tot),
    vm AS MATERIALIZED (
      SELECT map(list(piece ORDER BY piece), list(c ORDER BY piece)) AS m
      FROM costs)"""


def _viterbi_dp_ctes(n: str, vm: str) -> str:
    """Min-cost Viterbi segmentation of every word type in `wcnt` under
    the piece-cost map in CTE ``vm``: the recursive DP `dp<n>` and its final
    cell per word, `fin<n>` (sc = path cost, np = pieces)."""
    return f"""
    dp{n} AS (
      SELECT word, len(word) AS wl, 0 AS i,
             [{{'c': CAST(0 AS BIGINT), 'n': 0}}] AS v
      FROM wcnt
      UNION ALL
      SELECT word, wl, i + 1,
             list_append(v, (
                list_reduce(
                  list_transform(generate_series(greatest(1, i - 1), i + 1),
                    j -> {{'c': v[j].c
                               + coalesce(map_extract(m, substr(word, j, i + 2 - j))[1],
                                          CAST(1000000000000000 AS BIGINT)),
                          'n': v[j].n + 1}}),
                  (a, b) -> CASE WHEN b.c < a.c THEN b ELSE a END)))
      FROM dp{n} CROSS JOIN {vm}
      WHERE i < wl),
    fin{n} AS MATERIALIZED (
      SELECT word, v[wl + 1].c AS sc, v[wl + 1].n AS np FROM dp{n} WHERE i = wl)"""


@query(
    "unigram_viterbi_stats",
    oracle=_UNIGRAM_COSTS_CTES
    + ","
    + _viterbi_dp_ctes("", "vm")
    + """
    SELECT l.lang,
           CAST(sum(l.lc) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(f.np * l.lc) AS BIGINT) AS n_pieces,
           CAST(sum(f.sc * l.lc) AS BIGINT) AS total_cost_micronats,
           round(CAST(sum(f.np * l.lc) AS DOUBLE) / sum(l.lc), 6)
             AS avg_pieces_per_token
    FROM lcnt l JOIN fin f USING (word)
    GROUP BY 1
    """,
)
def unigram_viterbi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi subword segmentation
    (``text.subword_piece_costs`` + ``text.viterbi_segment_words``) — the
    SentencePiece-family twin of ``bpe_train_merges`` (BPE learns merges
    bottom-up; the unigram model scores a FIXED piece inventory and
    segments by min-cost DP). Inventory: every character + the 40 most
    frequent length-2..3 substrings (occurrence-weighted, lexicographic
    ties), costs = round(−ln(p)·10⁶) micro-nats as BIGINT — integer
    quantization BEFORE the DP makes every path cost an exact integer sum,
    so cross-engine ln() ulp noise cannot flip a segmentation, and ties
    break to the smallest split start (strict-less argmin, replayed
    identically by the oracle's list_reduce). The DP itself is a nested
    ``aggregate`` fold over character positions (whole-stage codegen — no
    UDF, no shuffle) over DISTINCT WORD TYPES only; token mass re-attaches
    via counts, so at 100 TB the segmentation cost is O(|types|·len·L),
    not O(corpus). The inventory crosses the driver once as a bounded
    collect (|charset|+40 rows — the documented bounded-collect exception)
    and compiles into a map literal broadcast with the plan. Output per
    language: exact token/type/piece counts, the exact total path cost in
    micro-nats, and pieces-per-token — the compression number a tokenizer
    ships with."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    lcnt = words.groupBy("lang", "word").agg(F.count("*").alias("lc"))
    wcnt = lcnt.groupBy("word").agg(F.sum("lc").alias("cnt"))
    costs = text.subword_piece_costs(wcnt, max_piece=3, top_multi=40)
    pieces = [(r.piece, r.cost) for r in costs.select("piece", "cost").collect()]
    seg = text.viterbi_segment_words(wcnt, pieces, max_piece=3)
    return (
        lcnt.join(seg.select("word", "seg_cost", "n_pieces"), "word")
        .groupBy("lang")
        .agg(
            F.sum("lc").cast("long").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum(F.col("n_pieces").cast("long") * F.col("lc")).alias("n_pieces"),
            F.sum(F.col("seg_cost") * F.col("lc")).alias("total_cost_micronats"),
            F.round(
                F.sum(F.col("n_pieces").cast("long") * F.col("lc")).cast("double")
                / F.sum("lc"),
                6,
            ).alias("avg_pieces_per_token"),
        )
    )


@query(
    "unigram_em_round",
    oracle=_UNIGRAM_COSTS_CTES
    + """,
    dp1 AS (
      SELECT word, len(word) AS wl, 0 AS i,
             [{'c': CAST(0 AS BIGINT), 'n': 0, 'b': 0}] AS v
      FROM wcnt
      UNION ALL
      SELECT word, wl, i + 1,
             list_append(v, (
                list_reduce(
                  list_transform(generate_series(greatest(1, i - 1), i + 1),
                    j -> {'c': v[j].c
                               + coalesce(map_extract(m, substr(word, j, i + 2 - j))[1],
                                          CAST(1000000000000000 AS BIGINT)),
                          'n': v[j].n + 1,
                          'b': CAST(j AS INTEGER)}),
                  (a, b) -> CASE WHEN b.c < a.c THEN b ELSE a END)))
      FROM dp1 CROSS JOIN vm
      WHERE i < wl),
    fin1 AS MATERIALIZED (
      SELECT word, v, v[wl + 1].c AS sc, v[wl + 1].n AS np FROM dp1 WHERE i = wl),
    bt AS (
      SELECT word, len(word) AS pos, v, CAST([] AS VARCHAR[]) AS ps FROM fin1
      UNION ALL
      SELECT word, v[pos + 1].b - 1, v,
             list_prepend(substr(word, v[pos + 1].b, pos - v[pos + 1].b + 1), ps)
      FROM bt WHERE pos > 0),
    segs AS MATERIALIZED (SELECT word, ps FROM bt WHERE pos = 0),
    usage AS MATERIALIZED (
      SELECT piece, sum(cnt) AS used FROM (
        SELECT unnest(s.ps) AS piece, w.cnt
        FROM segs s JOIN wcnt w USING (word))
      GROUP BY 1),
    u0 AS MATERIALIZED (
      SELECT c.piece, coalesce(us.used, 0) + 1 AS um
      FROM costs c LEFT JOIN usage us USING (piece)),
    t2 AS (SELECT sum(um) AS U FROM u0),
    costs2 AS MATERIALIZED (
      SELECT piece,
             CAST(round(-ln(CAST(um AS DOUBLE) / CAST(U AS DOUBLE))
                        * 1000000, 0) AS BIGINT) AS c
      FROM u0 CROSS JOIN t2),
    vm2 AS MATERIALIZED (
      SELECT map(list(piece ORDER BY piece), list(c ORDER BY piece)) AS m
      FROM costs2),"""
    + _viterbi_dp_ctes("2", "vm2")
    + """
    SELECT l.lang,
           CAST(sum(l.lc) AS BIGINT) AS n_tokens,
           CAST(sum(f1.np * l.lc) AS BIGINT) AS p1_pieces,
           CAST(sum(f2.np * l.lc) AS BIGINT) AS p2_pieces,
           CAST(sum(f1.sc * l.lc) AS BIGINT) AS p1_cost_micronats,
           CAST(sum(f2.sc * l.lc) AS BIGINT) AS p2_cost_micronats,
           round(CAST(sum(f2.np * l.lc) AS DOUBLE) / sum(l.lc), 6)
             AS p2_avg_pieces_per_token
    FROM lcnt l
    JOIN fin1 f1 USING (word)
    JOIN fin2 f2 USING (word)
    GROUP BY 1
    """,
)
def unigram_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Viterbi-EM re-estimation round of the unigram tokenizer (the
    training loop on top of ``unigram_viterbi_stats``, mirroring how
    ``bpe_encode_stats`` builds on ``bpe_train_merges``): segment with the
    frequency-initialized costs (E-step, hard assignments), count actual
    PIECE USAGE via the backtrace (``text.viterbi_segment_pieces`` — a
    second per-row fold walks the dp back-pointers, still zero-shuffle),
    re-estimate piece probabilities from usage with add-one smoothing over
    the same inventory (M-step), re-segment, and report both passes per
    language — exact integer path costs and piece counts, so the hash
    gates both DPs, the backtrace, and the usage table transitively.
    Re-estimation concentrates mass on pieces Viterbi actually uses
    (whole-word and frequent multi-char pieces get cheaper; unused
    substring candidates decay to the smoothing floor), the standard
    SentencePiece EM step. Scale shape identical to
    ``unigram_viterbi_stats`` ×2: everything runs over distinct word
    types; the only driver crossings are the two bounded inventory
    collects."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    lcnt = words.groupBy("lang", "word").agg(F.count("*").alias("lc"))
    wcnt = lcnt.groupBy("word").agg(F.sum("lc").alias("cnt"))
    costs = text.subword_piece_costs(wcnt, max_piece=3, top_multi=40)
    pieces = [(r.piece, r.cost) for r in costs.select("piece", "cost").collect()]
    seg1 = text.viterbi_segment_pieces(wcnt, pieces, max_piece=3)
    usage = (
        seg1.select(F.explode("seg_pieces").alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("used"))
    )
    u0 = costs.select("piece").join(usage, "piece", "left").select(
        "piece", (F.coalesce("used", F.lit(0)) + 1).alias("um")
    )
    t2 = u0.agg(F.sum("um").alias("__U"))
    costs2 = u0.crossJoin(F.broadcast(t2)).select(
        "piece",
        F.round(-F.log(F.col("um").cast("double") / F.col("__U")) * 1e6, 0)
        .cast("long")
        .alias("cost"),
    )
    pieces2 = [(r.piece, r.cost) for r in costs2.collect()]
    seg2 = text.viterbi_segment_words(wcnt, pieces2, max_piece=3)
    j1 = seg1.select("word", F.col("seg_cost").alias("c1"), F.col("n_pieces").alias("n1"))
    j2 = seg2.select("word", F.col("seg_cost").alias("c2"), F.col("n_pieces").alias("n2"))
    return (
        lcnt.join(j1, "word")
        .join(j2, "word")
        .groupBy("lang")
        .agg(
            F.sum("lc").cast("long").alias("n_tokens"),
            F.sum(F.col("n1").cast("long") * F.col("lc")).alias("p1_pieces"),
            F.sum(F.col("n2").cast("long") * F.col("lc")).alias("p2_pieces"),
            F.sum(F.col("c1") * F.col("lc")).alias("p1_cost_micronats"),
            F.sum(F.col("c2") * F.col("lc")).alias("p2_cost_micronats"),
            F.round(
                F.sum(F.col("n2").cast("long") * F.col("lc")).cast("double")
                / F.sum("lc"),
                6,
            ).alias("p2_avg_pieces_per_token"),
        )
    )


@query(
    "search_documents",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE text LIKE '%spark%' AND text LIKE '%join%'
      AND lang = 'en' AND n_chars >= 200
    """,
)
def search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive search predicates (P5/P6, kpis.py:102-119)."""
    docs = _t(spark, sf_dir, "documents")
    pred = search.all_of(
        search.text_contains("text", "spark"),
        search.text_contains("text", "join"),
        F.col("lang") == "en",
        search.threshold("n_chars", ">=", 200),
    )
    return search.search(docs, pred).select("doc_id", "lang", "n_chars")


@query(
    "user_running_totals",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           lag(value) OVER w AS prev_value,
           CAST(sum(CAST(value AS DECIMAL(30,4))) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (§2.7): row_number + lag + running sum
    (decimal-exact so segment-tree vs streaming accumulation can't diverge)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value").over(w).alias("prev_value"),
        F.sum(F.col("value").cast("decimal(30,4)")).over(wf).cast("double").alias("running_total"),
    )


@query(
    "sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap flags + per-user session counts (the
    batch twin of session_window; streaming version in streaming/windows.py)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # FRACTIONAL-second gap (ADVICE r5): events.ts carries fractional
    # seconds, and the oracle's epoch() is fractional — unix_timestamp
    # truncates to whole seconds, so a gap within ~1s of the threshold
    # could sessionize differently in the two engines
    sec = F.col("ts").cast("timestamp").cast("double")
    prev_sec = F.lag("ts").over(w).cast("timestamp").cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (sec - prev_sec > 1800), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# 6. time-bucketed aggregation + streaming twin (§2.11 item 12)
# ---------------------------------------------------------------------------

_HOURLY_ORACLE = """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """


@query("events_hourly", oracle=_HOURLY_ORACLE)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch (window(ts,'1 hour') ≡ DuckDB
    time_bucket)."""
    from ..streaming import tumbling_agg

    ev = _t(spark, sf_dir, "events")
    out = tumbling_agg(ev, "ts", "1 hour", ("event_type",), "value")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total",
    )


@query("stream_hourly", oracle=_HOURLY_ORACLE)
def stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same aggregation executed as a real Structured Streaming query
    (file source → watermark → window agg → memory sink), proving
    batch ≡ replayed stream against the same oracle."""
    import os

    out = replay_events_tumbling(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        ts_col="ts",
        duration="1 hour",
        group_cols=("event_type",),
        value_col="value",
        query_name="stream_hourly_mem",
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total",
    )


@query(
    "nested_hof_orders",
    oracle="""
    SELECT o_custkey,
           count(*) AS n_orders,
           count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           min(o_orderkey) FILTER (WHERE o_totalprice > 200000) AS first_big_orderkey
    FROM orders GROUP BY 1
    """,
)
def nested_hof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data round trip (SURVEY §2.8 F1-F5 on built data): collect each
    customer's orders into a sorted array<struct>, then higher-order
    ``filter``/``transform`` + null-safe ``element_at`` — the TMDB
    credits-flattening shape exercised on relational data. The oracle
    expresses the same semantics relationally (first big order = min
    orderkey among orders > 200k, since the array is orderkey-sorted)."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list(F.struct("o_orderkey", "o_totalprice"))).alias("ords")
    )
    big = F.filter(F.col("ords"), lambda x: x["o_totalprice"] > 200000)
    return per_cust.select(
        "o_custkey",
        F.size("ords").cast("long").alias("n_orders"),
        F.size(big).cast("long").alias("n_big"),
        # try_element_at: NULL on empty array under ANY ANSI setting (the
        # driver's default session runs ANSI-on, where element_at throws)
        F.try_element_at(F.transform(big, lambda x: x["o_orderkey"]), F.lit(1)).alias("first_big_orderkey"),
    )


@query(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
                THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: ``from_json`` with an explicit schema (the
    engine never infers, SURVEY §2.1 S6) + derived banding."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", F.from_json("props", "k INT").alias("__p")
    )
    return parsed.select(
        "event_id",
        F.col("__p.k").alias("k"),
        F.when(F.col("__p.k") >= 50, "high").otherwise("low").alias("k_band"),
    )


_SLIDING_ORACLE = """
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n
    FROM (
      SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws,
             event_type
      FROM events
    )
    GROUP BY 1, 2
    """


@query("events_sliding", oracle=_SLIDING_ORACLE)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation in batch (1 h window / 30 min slide —
    each event lands in exactly two windows; the oracle unnests both
    half-hour-aligned starts)."""
    from ..streaming import sliding_agg

    ev = _t(spark, sf_dir, "events")
    out = sliding_agg(ev, "ts", "1 hour", "30 minutes", ("event_type",))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )


def _build_stream_sliding(s: DataFrame) -> DataFrame:
    """stream_sliding's transformation (hoisted for the batch-twin plan
    probe, VERDICT_r05 #5)."""
    from ..streaming import sliding_agg

    return sliding_agg(s, "ts", "1 hour", "30 minutes", ("event_type",))


@query("stream_sliding", oracle=_SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregation as a real Structured Streaming query
    (overlapping-window state), same oracle as the batch twin."""
    import os

    from ..streaming import replay_events

    out = replay_events(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        _build_stream_sliding,
        query_name="stream_sliding_mem",
    )
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    )


@query(
    "events_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             -- Spark session_window merges at exactly the gap boundary:
             -- a new session starts only when the gap is STRICTLY exceeded
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ), sess AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (``session_window``, 30 min gap) per user in batch —
    dynamic merge-on-overlap windows; window end = last event + gap. The
    oracle derives the same islands with a lag-gap cumulative sum."""
    from ..streaming import session_agg

    ev = _t(spark, sf_dir, "events")
    out = session_agg(ev, "ts", "30 minutes", ("user_id",))
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n",
    )


# ---------------------------------------------------------------------------
# 7. extension operators: dedup / similarity / text (§2.11 item 13)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_by_source",
    oracle="""
    WITH winners AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    )
    SELECT source, count(*) AS n_docs
    FROM documents WHERE doc_id IN (SELECT doc_id FROM winners)
    GROUP BY source
    """,
)
def dedup_exact_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup (sha2 groupBy, keep min id) then a per-source
    count over the deduplicated set."""
    docs = _t(spark, sf_dir, "documents")
    deduped = dedup.dedup_exact(docs, "text", "doc_id")
    return deduped.groupBy("source").agg(F.count("*").alias("n_docs"))


_NEARDUP_ORACLE = r"""
    WITH docs AS (
      -- regex split matches the engine's word_shingles tokenization exactly
      -- (a literal-space split would diverge on runs of whitespace/tabs)
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    """


@query("ngram_jaccard_neardups", oracle=_NEARDUP_ORACLE)
def ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: 3-word shingles, Jaccard ≥ 0.5, blocked on
    shared shingles (the join is the blocking step)."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, min_jaccard=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query("minhash_neardups", oracle=_NEARDUP_ORACLE)
def minhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32 bands × 4 rows) candidates, exact-Jaccard
    verified at ≥ 0.5. Checked against the *exact* oracle: at this corpus's
    similarity distribution (near-dups are all ≥ 0.8 Jaccard) LSH detection
    probability is ≈ 1 - 5e-8, so the verified candidate set equals the
    exact answer. The scale path for dedup at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=3, num_hashes=128, bands=32, min_jaccard=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _minhash_bq_oracle() -> str:
    """DuckDB replay of the PORTABLE MinHash banding (md5-60 base hash,
    tuple band keys) plus the exact-Jaccard truth set — the permutation
    constants are interpolated from the SAME ``_permutation_params(32, 7)``
    the Spark side folds, so both engines band identical signatures."""
    from ..operators.dedup import _MERSENNE31 as P
    from ..operators.dedup import _permutation_params

    params = _permutation_params(32, 7)
    mh = ",\n             ".join(
        f"min((h * {a} + {b}) % {P}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )
    band_joins = "\n        UNION ALL\n        ".join(
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sig a JOIN sig b ON "
        + " AND ".join(f"a.mh_{band * 4 + j} = b.mh_{band * 4 + j}" for j in range(4))
        + " AND a.doc_id < b.doc_id"
        for band in range(8)
    )
    return rf"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      -- double division + double *10 exactly mirrors the Spark shape so
      -- decile edges bucket identically (no DECIMAL intermediate)
      SELECT id_a, id_b,
             CAST(floor((CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared))
                        * 10) AS INT) AS jac_decile
      FROM shared JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(shared AS DOUBLE) / (sa.sz + sb.sz - shared) >= 0.1),
    hs AS (
      SELECT doc_id,
             (CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {P}) AS h
      FROM sh),
    sig AS (SELECT doc_id, {mh}
            FROM hs GROUP BY doc_id),
    cand AS (SELECT DISTINCT id_a, id_b FROM (
        {band_joins})),
    caught AS (SELECT t.id_a, t.id_b, t.jac_decile
               FROM truth t JOIN cand USING (id_a, id_b)),
    g AS (SELECT (SELECT count(*) FROM cand) AS cand_pairs,
                 (SELECT count(*) FROM caught WHERE jac_decile >= 5)
                   AS good_cands)
    SELECT t.jac_decile,
           count(*) AS truth_pairs,
           count(c.id_a) AS caught_pairs,
           round(CAST(count(c.id_a) AS DOUBLE) / count(*), 6) AS recall,
           any_value(g.cand_pairs) AS cand_pairs,
           round(CAST(any_value(g.good_cands) AS DOUBLE)
                 / nullif(any_value(g.cand_pairs), 0), 6) AS cand_precision
    FROM truth t
    LEFT JOIN caught c USING (id_a, id_b)
    CROSS JOIN g
    GROUP BY t.jac_decile
    """


@query("minhash_blocking_quality", oracle=_minhash_bq_oracle())
def minhash_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding recall certificate for the MinHash-LSH production path
    (VERDICT_r07 #5, the ``er_blocking_quality`` pattern applied to
    ``minhash_lsh_pairs``), measured as the DETECTION S-CURVE: exact
    Jaccard pairs down to 0.1 are the truth set, bucketed by Jaccard
    decile, and each decile reports how much of it the UNVERIFIED banding
    candidate set catches. Instrument: ``dedup.minhash_band_pairs_portable``
    — the same banding structure as production (word 3-shingles, k = 32
    affine permutations from the same ``_permutation_params``, bands ×
    rows = 8 × 4) with the md5-60 portable base hash and tuple band keys,
    so DuckDB replays the candidate set exactly (xxhash64, the production
    base hash, has no DuckDB twin — the certified property, banding
    recall over random permutations, does not depend on which uniform
    base hash feeds them). Theory at r=4, b=8 is 1−(1−j⁴)⁸: ≈0.0008 at
    j=0.1, ≈0.40 at 0.5, ≈0.98 at 0.8 — and the measurement shows exactly
    that rolloff on this corpus's bimodal pair distribution: the j≈0.1
    accidental-overlap pairs are (correctly) missed, the ≥0.8 near-dups
    all caught. ``cand_precision`` (constant across rows) states the
    verify bill: the share of admitted candidates that are real ≥0.5
    near-dups. The whole documents table is the declared bounded stratum
    (exact truth leg is shingle-blocked, the ``ngram_jaccard_neardups``
    cost envelope)."""
    docs = _t(spark, sf_dir, "documents")
    truth = (
        # persist_shingles: the audit materializes the pair list right away
        # (localCheckpoint below), so the bounded shingle table's three
        # consumers (sizes + both self-join sides) should share one explode
        dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, min_jaccard=0.1, persist_shingles=True
        )
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("jaccard") * 10).cast("int").alias("jac_decile"),
        )
        .localCheckpoint()
    )
    cand = dedup.minhash_band_pairs_portable(
        docs, "text", "doc_id", n=3, num_hashes=32, bands=8
    ).localCheckpoint()
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi").localCheckpoint()
    glob = (
        cand.agg(F.count("*").alias("cand_pairs"))
        .crossJoin(
            caught.filter(F.col("jac_decile") >= 5).agg(
                F.count("*").alias("good_cands")
            )
        )
        .select(
            "cand_pairs",
            F.round(F.try_divide(F.col("good_cands"), F.col("cand_pairs")), 6).alias(
                "cand_precision"
            ),
        )
    )
    per_t = truth.groupBy("jac_decile").agg(F.count("*").alias("truth_pairs"))
    per_c = caught.groupBy("jac_decile").agg(F.count("*").alias("caught_pairs"))
    return (
        per_t.join(per_c, "jac_decile", "left")
        .select(
            "jac_decile",
            "truth_pairs",
            F.coalesce("caught_pairs", F.lit(0)).alias("caught_pairs"),
        )
        .withColumn(
            "recall",
            F.round(F.col("caught_pairs").cast("double") / F.col("truth_pairs"), 6),
        )
        .crossJoin(F.broadcast(glob))
    )


_SIMHASH_FP_CTE = r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok
      FROM documents),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM toks),
    bits AS (
      SELECT doc_id, g.b,
             sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h, unnest(generate_series(0, 59)) AS g(b)
      GROUP BY 1, 2),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                  AS BIGINT) AS simhash
      FROM bits GROUP BY 1)
"""


@query(
    "simhash_fingerprints",
    oracle=_SIMHASH_FP_CTE + "SELECT doc_id, simhash FROM fp",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints per document (near-dup sketch whose
    hamming distance approximates cosine distance of token sets), computed
    with the PORTABLE md5-derived token hash so the whole pipeline — token
    hash, per-bit majority sums, sign packing — hash-matches the DuckDB
    replay bit-for-bit (rows-only until round 4; ``hasher="xxhash64"``
    remains the production fast path, same plan shape)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_fingerprints(
        docs, "text", "doc_id", use_bits=60, hasher="md5_60"
    )


@query(
    "simhash_neardups",
    oracle=_SIMHASH_FP_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 via pigeonhole band blocking
    (4 bands ⇒ every qualifying pair shares ≥1 exact band — full recall, no
    probabilistic miss), portable-hash fingerprints. The oracle computes
    ALL-PAIRS exact hamming — the banding must reproduce it exactly, so the
    green row certifies the pigeonhole recall guarantee, not just the
    fingerprint math."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(
        docs, "text", "doc_id", max_hamming=3, bands=4, use_bits=60, hasher="md5_60"
    )


@query(
    "cosine_neardups",
    oracle="""
    SELECT id_a, id_b, round(cos, 5) + 0.0 AS cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) WHERE cos >= 0.4
    """,
)
def cosine_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, all pairs ≥ 0.4): the
    correctness baseline for embedding dedup. Norms computed once per row;
    the nested-loop join broadcasts one side. The blocked variant
    (``embedding_neardup_pairs(block_col=...)``) is the scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_neardup_pairs(emb, min_cos=0.4)
    return out.select("id_a", "id_b", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


@query(
    "text_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(trim(text), ' '))) AS INTEGER) AS n_unique_tokens,
           round(len(list_distinct(string_split(trim(text), ' '))) * 1.0
                 / len(string_split(trim(text), ' ')), 6) AS type_token_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (expression-only, no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    t = text.tokens("text")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_unique_tokens"),
        F.round(F.size(F.array_distinct(t)) / F.size(t), 6).alias("type_token_ratio"),
    )


@query(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           substr(md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint (md5/64-bit prefix)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


@query(
    "lang_stopword_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(CAST(sum(CAST(len(list_filter(string_split(trim(text), ' '),
                         x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                       * 1.0 / len(string_split(trim(text), ' ')) AS DECIMAL(30,10))) AS DOUBLE)
                 / count(*), 6) AS mean_en_stopword_ratio
    FROM documents GROUP BY lang
    """,
)
def lang_stopword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-marker scoring aggregated per labeled lang — the distributed
    scoring half of the language-ID heuristic (operators/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    ratio = text.stopword_ratio("text", "en")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(ratio.cast("decimal(30,10)")).cast("double") / F.count("*"), 6
        ).alias("mean_en_stopword_ratio"),
    )


@query(
    "doc_quality_scores",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tok FROM documents
    )
    SELECT doc_id,
           round(
             (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
             (0.5 * least(len(list_filter(tok, x -> list_contains(
                      ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                    / len(tok) * 5, 1.0)
              + 0.5 * len(list_distinct(tok)) / len(tok)),
             6) AS quality
    FROM t
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score in [0,1] (C4/Gopher-style cheap
    filters: length band × stopword ratio × lexical diversity) — pure
    expressions, whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@query(
    "token_counts_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
           CAST(len(list_filter(
                 string_split_regex(trim(regexp_replace(text,
                     '([\\.,;:!\\?\\(\\)\\[\\]\\{\\}"''])', ' \\1 ', 'g')), '\\s+'),
                 t -> t <> '')) AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-flavored
    punctuation-splitting regex (the pre-tokenizer shape of real BPE)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(text.tokens("text")).alias("n_ws_tokens"),
        F.size(text.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    )


@query(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH t AS (
      SELECT lang,
             length(text) AS n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws,
             len(list_filter(
                 string_split_regex(trim(regexp_replace(text,
                     '([\\.,;:!\\?\\(\\)\\[\\]\\{\\}"''])', ' \\1 ', 'g')), '\\s+'),
                 x -> x <> '')) AS n_bpe
      FROM documents)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           round(sum(n_chars) * 1.0 / sum(n_bpe), 6) AS chars_per_bpe_token,
           round(sum(n_bpe) * 1.0 / sum(n_ws), 6) AS bpe_per_ws_token
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY profile per language — the compression-rate
    audit behind multilingual token budgeting: languages whose text costs
    more (sub-word) tokens per character eat disproportionate context and
    training budget, so mixture weights set in *documents* or *bytes*
    silently under-train them. Per lang: corpus sizes in chars /
    whitespace words / BPE-ish tokens, chars-per-token (the fertility
    inverse), and the sub-word blow-up ratio vs whitespace words. Pure
    per-row expressions + one grouped integer sum — map-side partials,
    one tiny shuffle; the ratios divide exact integers so no decimal
    staging is needed."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length("text").alias("n_chars"),
        F.size(text.tokens("text")).alias("n_ws"),
        F.size(text.bpe_ish_tokens("text")).alias("n_bpe"),
    )
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_ws").cast("long").alias("total_ws_tokens"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.round(F.sum("n_chars") * 1.0 / F.sum("n_bpe"), 6).alias(
            "chars_per_bpe_token"
        ),
        F.round(F.sum("n_bpe") * 1.0 / F.sum("n_ws"), 6).alias("bpe_per_ws_token"),
    )


@query(
    "distinct_ngram_diversity",
    oracle=r"""
    WITH d AS (
      -- regex split + per-DOCUMENT shingling, the word_shingles convention
      -- (shingles never cross document boundaries)
      SELECT source, string_split_regex(lower(text), '\s+') AS w
      FROM documents),
    tri AS (
      SELECT source,
             unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)]) AS g
      FROM d WHERE len(w) >= 3),
    per AS (SELECT source, g, count(*) AS c FROM tri GROUP BY source, g)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS total_trigrams,
           count(*) AS distinct_trigrams,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singleton_trigrams,
           round(count(*) * 1.0 / sum(c), 6) AS distinct_ratio,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS singleton_share
    FROM per GROUP BY source
    """,
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DIVERSITY audit via distinct-n (the Self-BLEU-adjacent
    metric used to detect mode collapse in SYNTHETIC training data): per
    source, total vs distinct word trigrams, the distinct ratio, and the
    singleton share (trigrams seen exactly once). A source whose
    generator loops templates shows a collapsing distinct ratio long
    before eyeballing catches it — the gate a synthetic-data pipeline
    runs before mixing machine-generated text into the corpus.
    Frequency-sensitive shingles (``distinct=False``) — dedup within a
    document must COUNT here — then one (source, trigram) grouped count;
    shuffle rows are (source, 3-word string) pairs, never documents."""
    docs = _t(spark, sf_dir, "documents")
    # single-file parquet arrives as ONE partition; spread before the
    # per-row shingle transform or one core does all the explode work
    tri = dedup._spread(docs.select("source", "text")).select(
        "source",
        F.explode(
            dedup.word_shingles(F.lower(F.col("text")), 3, distinct=False)
        ).alias("g"),
    )
    per = tri.groupBy("source", "g").agg(F.count("*").alias("c"))
    return per.groupBy("source").agg(
        F.sum("c").cast("long").alias("total_trigrams"),
        F.count("*").alias("distinct_trigrams"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singleton_trigrams"),
        F.round(F.count("*") * 1.0 / F.sum("c"), 6).alias("distinct_ratio"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)) * 1.0 / F.count("*"), 6
        ).alias("singleton_share"),
    )


def _language_id_oracle() -> str:
    """SQL twin of ``text.language_id`` generated from the same STOPWORDS
    table, so the heuristic and its oracle can't drift apart."""
    parts = []
    for lang in sorted(text.STOPWORDS):
        lst = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
        parts.append(
            f"SELECT doc_id, lang, len(tok) AS n_tok, '{lang}' AS cand,\n"
            f"             len(list_filter(tok, x -> list_contains([{lst}], lower(x)))) AS hits\n"
            f"      FROM t"
        )
    union = "\n      UNION ALL\n      ".join(parts)
    return f"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tok FROM documents
    ),
    h AS (
      {union}
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand ASC) AS rn
      FROM h
    )
    SELECT doc_id, lang,
           CASE WHEN hits >= greatest(CAST(ceil(n_tok * 0.02) AS BIGINT), 1)
                THEN cand ELSE 'und' END AS lang_pred
    FROM r WHERE rn = 1
    """


@query("language_id", oracle=_language_id_oracle())
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID per document (argmax over per-language
    stopword hits; low evidence → 'und')."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", text.language_id("text").alias("lang_pred"))


# Exact cosine top-10 of queries vec_id < 20 over every other vector.
_EXACT_COSINE_TOP10_SQL = """
    SELECT query_id, neighbor_id, round(cos, 5) + 0.0 AS cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        FROM (SELECT * FROM embeddings WHERE vec_id < 20) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
      )
    ) WHERE rn <= 10
    """


@query(
    "similarity_topk",
    oracle="""
    -- cosine in explicit double precision (list_cosine_similarity is
    -- float32, which would flip rounded digits vs Spark's double math)"""
    + _EXACT_COSINE_TOP10_SQL,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 20 query vectors: broadcast queries ×
    corpus scan, zip_with/aggregate dot products (pure Catalyst), windowed
    top-k. The exactness baseline for ANN."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_bruteforce(q, emb, k=10)
    return out.select("query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


def _lsh_planes(num_planes: int = 6, dim: int = 64, seed: int = 42) -> list[list[float]]:
    """The same seeded hyperplanes ``similarity.cosine_topk_lsh`` derives —
    one shared generator, so the oracle SQL embeds identical literals."""
    return similarity.seeded_planes(num_planes, dim, seed)


def _similarity_lsh_oracle() -> str:
    terms = []
    for i, p in enumerate(_lsh_planes()):
        lits = ", ".join(repr(x) for x in p)
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip(embedding, [{lits}]),"
            f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) >= 0"
            f" THEN {2 ** i} ELSE 0 END)"
        )
    bucket = "\n             + ".join(terms)
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             {bucket} AS bucket
      FROM embeddings
    )
    SELECT query_id, neighbor_id, round(cos, 5) + 0.0 AS cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(q.embedding, c.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.nrm * c.nrm) AS cos
        FROM (SELECT * FROM b WHERE vec_id < 20) q
        JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      )
    ) WHERE rn <= 10
    """


def _similarity_multiprobe_oracle() -> str:
    n_planes = len(_lsh_planes())
    pows = ", ".join(str(2**i) for i in range(n_planes))
    base = _similarity_lsh_oracle()
    return base.replace(
        "JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id",
        f"JOIN b c ON (q.bucket = c.bucket OR xor(q.bucket, c.bucket) IN ({pows}))"
        " AND c.vec_id <> q.vec_id",
    )


@query("similarity_topk_multiprobe", oracle=_similarity_multiprobe_oracle())
def similarity_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (``cosine_topk_lsh(multiprobe=True)``): every
    bucket at hamming distance ≤ 1 from the query's bucket is probed (each
    single hyperplane bit flipped) — recovering the dominant miss mode (a
    true neighbor just across ONE plane boundary) for a (planes+1)×
    query-side fan-out while the corpus side stays an untouched equi-join.
    Oracle: the same bucket construction with ``xor(q,c) IN (1,2,4,...)``
    membership — the approximate path stays exactly checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_lsh(
        q, emb, k=10, num_planes=6, dim=64, seed=42, multiprobe=True
    )
    return out.select("query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


@query("similarity_topk_lsh", oracle=_similarity_lsh_oracle())
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (random hyperplanes): the scale path — candidates
    restricted to the query's bucket via equi-join instead of a cross join.
    The seeded hyperplanes are embedded as literals in the oracle SQL, so even
    the approximate path is exactly checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_lsh(q, emb, k=10, num_planes=6, dim=64, seed=42)
    return out.select("query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


@query("similarity_topk_lsh_pruned", oracle=_similarity_lsh_oracle())
def similarity_topk_lsh_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORAGE half of ANN at scale: corpus written with its LSH bucket
    as a parquet partition column, probe joined on the partition key so
    dynamic partition pruning reads only the probed buckets' files. Same
    planes → identical results to ``similarity_topk_lsh`` (same oracle)."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    path = _run_tmp(spark, "lsh_corpus", sf_dir)
    similarity.write_lsh_partitioned_corpus(emb, path)
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_lsh_probe(q, path, k=10)
    return out.select("query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


@query(
    "cosine_neardups_blocked",
    oracle="""
    SELECT id_a, id_b, round(cos, 5) + 0.0 AS cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM embeddings a
      JOIN embeddings b ON a.vec_id < b.vec_id AND a.label = b.label
    ) WHERE cos >= 0.4
    """,
)
def cosine_neardups_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with BLOCKING (``block_col='label'``): the pair
    join is an equi-join on the block key — shuffled hash join that scales
    out, vs the unblocked broadcast nested loop (``cosine_neardups``). At
    100 TB the block key is an LSH bucket or shard id; the label column
    stands in here."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.embedding_neardup_pairs(emb, min_cos=0.4, block_col="label")
    return out.select("id_a", "id_b", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


@query(
    "embedding_stats",
    oracle="""
    SELECT label, count(*) AS n,
           round(CAST(sum(CAST(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS DECIMAL(30,10))) AS DOUBLE)
                 / count(*), 6) AS mean_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norms — vector math as Catalyst expressions."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = similarity.l2_norm("embedding")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.sum(norm.cast("decimal(30,10)")).cast("double") / F.count("*"), 6).alias("mean_norm"),
    )


@query(
    "embedding_dim_profile",
    oracle="""
    WITH x AS (
      SELECT CAST(i - 1 AS INTEGER) AS dim,
             CAST(embedding[i] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)),
    s AS (
      SELECT dim, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) AS s1,
             CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS s2,
             min(x) AS mn, max(x) AS mx,
             CAST(sum(CASE WHEN abs(x) < 0.001 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small
      FROM x GROUP BY dim)
    SELECT dim, CAST(n AS BIGINT) AS n,
           round(s1 / n, 6) AS mean,
           round(sqrt((s2 - s1 * s1 / n) / (n - 1.0)), 6) AS std,
           round(mn, 6) AS min_x, round(mx, 6) AS max_x,
           round(CAST(n_small AS DOUBLE) / n, 6) AS frac_near_zero
    FROM s
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION embedding health profile: mean / sample std / min /
    max / near-zero fraction for every coordinate — the dead-dimension and
    scale-imbalance check run before trusting cosine distances, truncation
    (``embedding_truncation_fidelity``) or int8 quantization
    (``embedding_quantization``) on a new embedding source. One
    ``posexplode`` → per-dim decimal power sums (the ``embedding_stats``
    float→decimal(38,10) discipline, r1-green) → closed-form moments; the
    shuffle carries (dim, x) pairs keyed on 64 dims, trivially balanced at
    any corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "xf")).select(
        "dim", F.col("xf").cast("double").alias("x")
    )
    s = x.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,10)")).cast("double").alias("s1"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)"))
        .cast("double")
        .alias("s2"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.sum(F.when(F.abs("x") < 0.001, 1).otherwise(0))
        .cast("long")
        .alias("n_small"),
    )
    return s.select(
        "dim",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("s1") / F.col("n"), 6).alias("mean"),
        F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1.0)
            ),
            6,
        ).alias("std"),
        F.round("mn", 6).alias("min_x"),
        F.round("mx", 6).alias("max_x"),
        F.round(F.col("n_small").cast("double") / F.col("n"), 6).alias(
            "frac_near_zero"
        ),
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT 'image' AS media_type, count(*) AS n_assets,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           max(octet_length(encode(text))) AS max_bytes
    FROM documents
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents' bytes packed as binary assets with a
    typed metadata struct; metadata-only aggregation (payload column pruned)."""
    from ..operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.pack_binary(docs, "text", "doc_id", media_type="image")
    return multimodal.payload_stats(assets)


@query(
    "multimodal_features",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS digest
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads → sha256 digest + deterministic fake feature vector
    via Arrow-batched mapInPandas (the stubbed decode/feature-extract path).
    The digest/byte-count outputs are exact, so the mapInPandas plumbing is
    oracle-checkable even though the codec stage is stubbed."""
    from ..operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.pack_binary(docs, "text", "doc_id", media_type="image")
    return multimodal.extract_features(assets).select("asset_id", "n_bytes", "digest")


_STREAM_DEDUP_ORACLE = """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """


@query("stream_dedup_counts", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the source is replayed TWICE (two file
    streams unioned — every event arrives duplicated), then
    ``dropDuplicates(event_id)`` restores exactly-once before a per-type
    count. Green iff the deduped stream counts equal the plain batch counts
    over the original table."""
    import os

    from ..streaming import replay_events_pair

    return replay_events_pair(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        _build_stream_dedup,
        query_name="stream_dedup_mem",
        output_mode="complete",
    )


def _build_stream_dedup(s1: DataFrame, s2: DataFrame) -> DataFrame:
    """stream_dedup_counts' transformation (hoisted for the batch-twin plan
    probe): union the doubled feed, exactly-once dedup, per-type count."""
    from ..streaming import dedup_stream

    dup = s1.unionByName(s2)
    return dedup_stream(dup, ("event_id",)).groupBy("event_type").agg(
        F.count("*").alias("n")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS p_event_id, c.event_id AS c_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08') p
    JOIN (SELECT * FROM events WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '5 minutes' AND c.ts < p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (purchases ⋈ clicks within the preceding
    5 minutes, per user): two independent watermarked file streams, event-time
    range condition bounding join state. Same pairs as the batch range join —
    the oracle is the batch SQL. Bounded to the first week of the (fixed
    January 2024) corpus: the proof is the join semantics, not the volume.
    (Shared transformation: ``_build_pair_join``, defined with the outer
    variants below.)"""
    return _stream_pair_join(
        spark, sf_dir, "inner", ("p_event_id", "c_event_id")
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT source, lang, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source, lang
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 round trip: JSON sink (the raw-archive role) then a JSON source
    read with an EXPLICIT schema (never inferred, SURVEY §2.1) — values must
    survive the sink → source cycle exactly."""
    import os

    from pyspark.sql import types as T

    from ..sources.io import read_json, write_json

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    path = _run_tmp(spark, "json_docs", sf_dir)
    write_json(docs, path, mode="overwrite")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    back = read_json(spark, path, schema, multiline=False)
    return back.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


@query(
    "pyds_jsonl_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2)
             AS sum_total
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY 1
    """,
)
def pyds_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource WRITER round trip
    (``sources.datasource.JsonLinesDataSource`` — the sink-side
    counterpart of the custom Python sources): a filtered orders slice is
    written through ``format("jsonl_py")`` — per-task staging files, a
    driver-side two-phase commit that renames only reported attempts and
    drops a ``_SUCCESS`` marker — then read back with an EXPLICIT schema
    and aggregated; the oracle aggregates the original table, so the green
    row certifies values survive the full task→commit→rename→read cycle.
    Decimal staging keeps the money sum exact through the JSON text form."""
    import os

    from pyspark.sql import types as T

    from ..sources.datasource import register_jsonl_writer

    register_jsonl_writer(spark)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    path = _run_tmp(spark, "pyds_jsonl", sf_dir)
    orders.select("o_orderkey", "o_orderpriority", "o_totalprice").write.format(
        "jsonl_py"
    ).option("path", path).mode("overwrite").save()
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(os.path.join(path, "part-*.jsonl"))
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("sum_total"),
    )


@query(
    "partitioned_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS sum_total
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/S14 round trip: partitioned parquet WRITE (hive layout by
    ``o_orderpriority``) then a READ filtered on the partition column — the
    filter prunes to 2 of 5 partition directories at planning time (the
    ``PartitionFilters`` path; plan pinned in tests/unit/test_plans.py).
    Values must round-trip exactly through the sink."""
    import os

    from ..sources.io import write_parquet

    o = _t(spark, sf_dir, "orders")
    path = _run_tmp(spark, "part_orders", sf_dir)
    write_parquet(
        o.select("o_orderkey", "o_totalprice", "o_orderpriority"),
        path,
        mode="overwrite",
        partition_by=("o_orderpriority",),
    )
    back = read_parquet(spark, path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("sum_total"),
    )


@query(
    "hash_split_counts",
    oracle="""
    WITH b AS (
      SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                % 10000 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1, 2
    """,
)
def hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by portable content hash
    (``operators/sampling.hash_split`` — md5-prefix bucket, zero shuffle,
    append-stable), summarized per split × language. The split assignment
    itself is the thing under test: both engines must route every document
    to the same side of the train/test boundary."""
    docs = _t(spark, sf_dir, "documents")
    return (
        sampling.hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "stratified_sample_docs",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000 AS bucket,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents),
    r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) AS rn
          FROM h)
    SELECT doc_id, lang FROM r WHERE rn <= ceil(n * 0.1)
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count 10% stratified sample per language
    (``operators/sampling.stratified_sample``): ceil(n_g·0.1) rows per
    stratum, chosen by hashed-key order — deterministic (no rand/seed
    state), exact per-stratum counts unlike Bernoulli ``sampleBy``."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(docs, ("lang",), 0.1, "doc_id").select(
        "doc_id", "lang"
    )


@query(
    "source_quota_rebalance",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn
      FROM documents)
    SELECT doc_id, source, n_chars FROM r WHERE rn <= 15
    """,
)
def source_quota_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (``operators/sampling.rebalance_quota``): keep
    the 15 highest-scoring (longest) documents per source — the mix
    rebalancing that stops one crawl dump from dominating a training set.
    Grouped-top-n physical shape: one shuffle, per-partition sort."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.rebalance_quota(docs, "source", 15, "n_chars", "doc_id").select(
        "doc_id", "source", "n_chars"
    )


@query(
    "sequence_packing",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END
                  AS BIGINT) AS n_tokens
      FROM documents),
    s AS (
      SELECT doc_id, source, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pack_start
      FROM t)
    SELECT doc_id, source, n_tokens, pack_start,
           CAST(floor(pack_start / 2048.0) AS BIGINT) AS pack_id
    FROM s
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence packing (``operators/packing.pack_sequences``):
    documents laid on a contiguous token stream per source shard
    (deterministic doc_id order), pack = 2048-token window where the
    document STARTS. One window cumsum per shard — the parallel,
    closed-form packing (true next-fit is a sequential scan; trade-off in
    the module docstring)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", packing.whitespace_token_count("text").alias("n_tokens")
    )
    return packing.pack_sequences(base, "source", "doc_id", "n_tokens", 2048).select(
        "doc_id", "source", "n_tokens", "pack_start", "pack_id"
    )


@query(
    "pii_redaction",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id
                  || '@mail.example.com via https://ex.com/d/' || doc_id
                  || ' ip 10.0.0.1 call +1 (555) 010-1234' AS t
      FROM documents),
    s1 AS (SELECT doc_id,
                  CAST(len(regexp_extract_all(t, 'https?://\S+')) AS INTEGER) AS n_url,
                  regexp_replace(t, 'https?://\S+', '<URL>', 'g') AS t FROM aug),
    s2 AS (SELECT doc_id, n_url,
                  CAST(len(regexp_extract_all(t,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                 '<EMAIL>', 'g') AS t FROM s1),
    s3 AS (SELECT doc_id, n_url, n_email,
                  CAST(len(regexp_extract_all(t,
                    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ipv4,
                  regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b',
                                 '<IP>', 'g') AS t FROM s2),
    s4 AS (SELECT doc_id, n_url, n_email, n_ipv4,
                  CAST(len(regexp_extract_all(t,
                    '\+?[0-9][0-9() .-]{6,}[0-9]')) AS INTEGER) AS n_phone,
                  regexp_replace(t, '\+?[0-9][0-9() .-]{6,}[0-9]',
                                 '<PHONE>', 'g') AS t FROM s3)
    SELECT doc_id, n_url, n_email, n_ipv4, n_phone, md5(t) AS redacted_md5 FROM s4
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (``operators/text.redact_pii`` / ``pii_counts``):
    documents augmented with a deterministic synthetic PII tail (the corpus
    itself is PII-free — the augmentation makes every pattern fire on both
    engines), then per-kind redaction counts + md5 of the scrubbed text.
    Map-only projection; regex subset parses identically under Java regex
    and RE2."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail.example.com via https://ex.com/d/"),
            F.col("doc_id"),
            F.lit(" ip 10.0.0.1 call +1 (555) 010-1234"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        *text.pii_counts("t"),
        F.md5(text.redact_pii("t")).alias("redacted_md5"),
    )


_SHINGLE_DOCS_CTE = r"""
    docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)"""


def _jaccard_reach_ctes(src: str) -> str:
    """Exact shingle-Jaccard near-dup closure over ``src``, a (doc_id, w)
    CTE of whitespace-split words: distinct word 3-shingles → pairs with
    Jaccard ≥ 0.5 → undirected ``edges`` → ``reach``, their transitive
    closure (needs WITH RECURSIVE). The pair set of
    ``dedup.ngram_jaccard_pairs(n=3, min_jaccard=0.5)``."""
    return f"""
    sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM {src} WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    p0 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM p0
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT s, d FROM edges
              UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)"""


# Each clustered doc's canonical (minimum-id) label, from ``reach``.
_NEARDUP_LABELS_CTE = """
    labels AS (
      SELECT s AS doc_id, least(s, min(d)) AS component_id
      FROM reach GROUP BY s)"""

_NEARDUP_REACH_CTES = _SHINGLE_DOCS_CTE + "," + _jaccard_reach_ctes("docs")
_NEARDUP_LABELS_CTES = _NEARDUP_REACH_CTES + "," + _NEARDUP_LABELS_CTE

_NEARDUP_COMPONENTS_ORACLE = (
    "WITH RECURSIVE "
    + _NEARDUP_REACH_CTES
    + """
    SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS component_id
    FROM reach GROUP BY s
    """
)

# text.quality_score per doc as ``q`` (length gate × stopword/diversity mix).
_QUALITY_CTE = r"""
    q AS (
      SELECT doc_id,
             round(
               (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
               (0.5 * least(len(list_filter(tok, x -> list_contains(
                        ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                      / len(tok) * 5, 1.0)
                + 0.5 * len(list_distinct(tok)) / len(tok)),
               6) AS quality
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tok FROM documents))"""


@query(
    "neardup_components",
    oracle=_NEARDUP_COMPONENTS_ORACLE,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: exact Jaccard pairs (same blocking as
    ``ngram_jaccard_neardups``) → connected components
    (``operators/dedup.connected_components``, min-label propagation +
    pointer jumping) → every clustered doc labeled with its canonical
    (minimum) doc id. The dedup decision a pipeline acts on — keep
    ``component_id``, drop the rest. Oracle: transitive closure via
    recursive CTE over the identical pair set."""
    docs = _t(spark, sf_dir, "documents")
    # persist_shingles=False: the CC loop's checkpoints would pin the full
    # shingle cache across every iteration (measured +40% wall at sf0.1)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    comp = dedup.connected_components(pairs)
    return comp.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component_id")
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")

@query(
    "profile_documents",
    oracle=" UNION ALL ".join(
        f"""SELECT '{c}' AS "column", count(*) AS n_rows,
        CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
        CAST(min({c}) AS VARCHAR) AS min_value,
        CAST(max({c}) AS VARCHAR) AS max_value FROM documents"""
        for c in _PROFILE_COLS
    ),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (``operators/profile.profile_table``): per
    column null count, exact distinct count, min/max — the data-quality
    reconnaissance step before committing a full-corpus transform. One scan,
    one aggregation (Expand for the multi-distinct), then an unpivot."""
    docs = _t(spark, sf_dir, "documents")
    return profile.profile_table(docs, _PROFILE_COLS)


@query(
    "salted_fact_join",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_items,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
                 AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def salted_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈fact join (``operators/joins.salted_join``): lineitem
    (salted by whole-row hash, so a hot orderkey's rows spread across salt
    buckets) ⋈ orders (replicated 8×) on ``(orderkey, salt)`` — the manual
    hot-key rewrite for when AQE skew-splitting can't help and broadcast
    doesn't fit. The oracle is the PLAIN join: salting must be a pure
    physical rewrite with zero semantic effect."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = joins.salted_join(
        li,
        o.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        salt=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'),
    w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                     OVER (PARTITION BY user_id) AS s1 FROM ev),
    w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > s1 THEN ts END)
                     OVER (PARTITION BY user_id) AS s2 FROM w1),
    w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > s2 THEN ts END)
                     OVER (PARTITION BY user_id) AS s3 FROM w2),
    t AS (SELECT DISTINCT user_id, s1, s2, s3 FROM w3)
    SELECT 1 AS step_index, 'view' AS step, count(s1) AS n_users FROM t
    UNION ALL SELECT 2, 'click', count(s2) FROM t
    UNION ALL SELECT 3, 'purchase', count(s3) FROM t
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (``operators/funnel.funnel_counts``): users who did
    view → click → purchase IN ORDER within the first two days (each step
    strictly after the previous step's first completion). N stacked
    conditional window mins over one user_id partitioning — one exchange
    total, no per-step self-joins. Time-bounded so conversion is partial
    (the full month converts everyone — no discrimination)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-03")
    return funnel.funnel_counts(ev, ("view", "click", "purchase"))


@query(
    "cohort_retention_daily",
    oracle="""
    WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
    m AS (SELECT u, d, min(d) OVER (PARTITION BY u) AS cohort_day FROM a)
    SELECT CAST(cohort_day AS VARCHAR) AS cohort_day,
           date_diff('day', cohort_day, d) AS day_offset,
           count(*) AS n_users
    FROM m GROUP BY cohort_day, date_diff('day', cohort_day, d)
    """,
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (``operators/funnel.cohort_retention``): users
    grouped by first-event day; how many are active N days later.
    Aggregate-before-window: events collapse to distinct (user, day) first,
    so everything after the first shrink is |user-days|, not |events|."""
    ev = _t(spark, sf_dir, "events")
    out = funnel.cohort_retention(ev)
    return out.select(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.col("day_offset").cast("long").alias("day_offset"),
        "n_users",
    )


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH o AS (SELECT o_custkey, o_orderdate, o_totalprice FROM orders),
    first AS (SELECT o_custkey, min(o_orderdate) AS d0 FROM o GROUP BY o_custkey),
    nc AS (SELECT extract(year FROM d0) * 12 + extract(month FROM d0) AS cm,
                  count(*) AS n_customers
           FROM first GROUP BY 1),
    j AS (
      SELECT extract(year FROM f.d0) * 12 + extract(month FROM f.d0) AS cm,
             (extract(year FROM o.o_orderdate) * 12
              + extract(month FROM o.o_orderdate))
             - (extract(year FROM f.d0) * 12 + extract(month FROM f.d0))
               AS age_months,
             o.o_totalprice AS price
      FROM o JOIN first f ON f.o_custkey = o.o_custkey),
    g AS (SELECT cm, age_months,
                 sum(CAST(price AS DECIMAL(30,4))) AS rev
          FROM j GROUP BY cm, age_months),
    c AS (SELECT cm, age_months,
                 sum(rev) OVER (PARTITION BY cm ORDER BY age_months) AS cum
          FROM g)
    SELECT concat(CAST((c.cm - 1) // 12 AS VARCHAR), '-',
                  lpad(CAST((c.cm - 1) % 12 + 1 AS VARCHAR), 2, '0'))
             AS cohort_month,
           CAST(c.age_months AS BIGINT) AS age_months,
           CAST(nc.n_customers AS BIGINT) AS n_customers,
           round(CAST(c.cum AS DOUBLE), 2) AS cum_revenue,
           ((2 * CAST(c.cum * 100 AS BIGINT) + nc.n_customers)
            // (2 * nc.n_customers)) / 100.0 AS ltv
    FROM c JOIN nc ON nc.cm = c.cm
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers grouped by FIRST-order month, then the
    cumulative revenue per cohort by account age in months, normalized to
    LTV per customer — the payback/LTV view a growth team reads next to
    ``cohort_retention_daily`` (activity says who's alive; LTV says what
    they're worth). Month index is the pure integer ``year·12 + month``
    (no months_between float semantics to reconcile across engines);
    revenue accumulates as decimals under the per-cohort running window;
    one self-join of orders against the per-customer first-order table
    (grouped before joining — never orders×orders)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("d0"))
    cm = (F.year("d0") * 12 + F.month("d0")).alias("cm")
    nc = first.groupBy(cm).agg(F.count("*").alias("n_customers"))
    j = o.join(first, "o_custkey").select(
        (F.year("d0") * 12 + F.month("d0")).alias("cm"),
        (
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            - (F.year("d0") * 12 + F.month("d0"))
        ).alias("age_months"),
        F.col("o_totalprice").alias("price"),
    )
    g = j.groupBy("cm", "age_months").agg(
        F.sum(F.col("price").cast("decimal(30,4)")).alias("rev")
    )
    w = Window.partitionBy("cm").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select("cm", "age_months", F.sum("rev").over(w).alias("cum"))
    return c.join(nc, "cm").select(
        F.concat(
            ((F.col("cm") - 1) / 12).cast("long").cast("string"),
            F.lit("-"),
            F.lpad(((F.col("cm") - 1) % 12 + 1).cast("string"), 2, "0"),
        ).alias("cohort_month"),
        F.col("age_months").cast("long").alias("age_months"),
        F.col("n_customers").cast("long").alias("n_customers"),
        F.round(F.col("cum").cast("double"), 2).alias("cum_revenue"),
        # exact integer-cent HALF_UP: cum is an exact 2-dp decimal (sums of
        # 2-dp prices), so the mean's .5 ties are REAL and double rounding
        # diverges across engines — divide in integer cents instead
        (
            F.expr(
                "(2 * CAST(cum * 100 AS BIGINT) + n_customers)"
                " DIV (2 * n_customers)"
            )
            / 100.0
        ).alias("ltv"),
    )


@query(
    "small_quantity_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated aggregate subquery), written as the
    idiomatic Spark decorrelation: broadcast-semi-join the filtered part
    keys into lineitem FIRST (so the per-part average runs over only the
    brand's lineitems — identical semantics, a fraction of the agg input),
    aggregate avg(l_quantity) per part, join back, filter, sum. The plan
    Catalyst would rewrite the subquery into, made explicit."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pk = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select(
        F.col("p_partkey").alias("l_partkey")
    )
    li_f = li.join(F.broadcast(pk), "l_partkey", "left_semi")
    lim = li_f.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("__qty_lim")
    )
    return (
        li_f.join(lim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__qty_lim"))
        .agg(F.round(_dsum(F.col("l_extendedprice")) / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "repetition_scores",
    oracle=r"""
    WITH g AS (
      SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w) - 1)]) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
      WHERE len(w) >= 3),
    pg AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
           CAST(max(c) AS BIGINT) AS top_ngram_count,
           round(max(c) * 1.0 / sum(c), 6) AS repetition_ratio
    FROM pg GROUP BY doc_id
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (``operators/text.repetition_stats``): the
    top trigram's share of all trigram occurrences — the degenerate-
    generation / spam-loop quality signal. Non-distinct n-grams, so
    frequency matters; shuffle key (doc, gram) bounds skew by document
    size."""
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "text", "doc_id")


@query(
    "boilerplate_exposure",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
      WHERE len(w) >= 3),
    df AS (SELECT s, count(*) AS dfreq FROM sh GROUP BY s)
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN dfreq >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
           round(sum(CASE WHEN dfreq >= 3 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
             AS boilerplate_ratio
    FROM sh JOIN df USING (s) GROUP BY doc_id
    """,
)
def boilerplate_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate (``operators/dedup.
    boilerplate_shingle_stats``): per document, the fraction of its distinct
    trigrams occurring in ≥3 documents corpus-wide — the C4/RefinedWeb
    "repeated across the corpus → template, not content" filter signal.
    Doc-frequency agg + per-doc rollup; shuffles carry (shingle, id), never
    documents."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.boilerplate_shingle_stats(docs, "text", "doc_id", min_docs=3)


@query(
    "benchmark_contamination",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
      WHERE len(w) >= 3)
    SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*) AS n_shared
    FROM (SELECT * FROM sh WHERE doc_id % 10 <> 0) t
    JOIN (SELECT * FROM sh WHERE doc_id % 10 = 0) b ON t.s = b.s
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination audit (``operators/dedup.
    contamination_overlap``): train docs (doc_id % 10 ≠ 0) sharing ≥2
    distinct trigrams with a benchmark doc (doc_id % 10 = 0) — the
    pre-training hygiene gate against eval leakage. Shingle equi-join is
    the blocking; the benchmark side broadcasts, so the train side never
    shuffles."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup.contamination_overlap(train, bench, "text", "doc_id", min_shared=2)


@query(
    "csv_roundtrip",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → explicit-schema CSV source cycle (interchange-format
    parity): doubles must survive text serialization exactly (Spark writes
    round-trippable representations), and the read is FAILFAST with a
    declared schema — never inferred."""
    import os

    from pyspark.sql import types as T

    from ..sources.io import read_csv, write_csv

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = _run_tmp(spark, "csv_cust", sf_dir)
    write_csv(c, path, mode="overwrite")
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    back = read_csv(spark, path, schema)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(_dsum(F.col("c_acctbal")), 2).alias("total_bal"),
    )


@query(
    "hourly_gap_filled_series",
    oracle="""
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                      date_trunc('hour', max(ts)) AS hi FROM events),
    hrs AS (SELECT lo + to_hours(unnest(generate_series(0,
                     CAST(date_diff('hour', lo, hi) AS BIGINT)))) AS bucket FROM b),
    grid AS (SELECT t.event_type, h.bucket
             FROM (SELECT DISTINCT event_type FROM events) t, hrs h),
    agg AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
                   count(*) AS n, sum(value) AS ht
            FROM events GROUP BY 1, 2)
    SELECT grid.event_type,
           strftime(grid.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           CAST(coalesce(agg.n, 0) AS BIGINT) AS n_events,
           round(last_value(agg.ht IGNORE NULLS) OVER (
                 PARTITION BY grid.event_type ORDER BY grid.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS hour_total
    FROM grid LEFT JOIN agg
      ON grid.event_type = agg.event_type AND grid.bucket = agg.bucket
    """,
)
def hourly_gap_filled_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (``operators/timeseries.py``): sparse
    hourly aggregates left-joined onto a dense sequence()-generated grid —
    event counts zero-filled, hourly totals forward-filled
    (last-ignorenulls window per type). Aggregate-then-regularize: the grid
    and fills touch |types|×|hours| rows, never the raw events."""
    ev = _t(spark, sf_dir, "events")
    out = timeseries.hourly_gap_filled(ev, ("event_type",), "ts", "value")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("n_events").cast("long").alias("n_events"),
        F.round(F.col("hour_total"), 4).alias("hour_total"),
    )


@query(
    "quality_deciles",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tok FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             round(
               (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
               (0.5 * least(len(list_filter(tok, x -> list_contains(
                        ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                      / len(tok) * 5, 1.0)
                + 0.5 * len(list_distinct(tok)) / len(tok)),
               6) AS q
      FROM t),
    d AS (SELECT lang, q,
                 CAST(ntile(10) OVER (PARTITION BY lang ORDER BY q, doc_id) AS INTEGER) AS decile
          FROM q)
    SELECT lang, decile, count(*) AS n_docs,
           round(min(q), 6) AS min_q, round(max(q), 6) AS max_q
    FROM d GROUP BY lang, decile
    """,
)
def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles (ntile bucketing over a deterministic
    total order — score then doc_id): the feature-normalization /
    threshold-calibration step for quality-filtered training mixes. Same
    grouped-window shape as grouped top-n: one shuffle on lang."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "lang", F.round(text.quality_score("text"), 6).alias("q")
    )
    w = Window.partitionBy("lang").orderBy(F.col("q").asc(), F.col("doc_id").asc())
    return (
        q.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("q"), 6).alias("min_q"),
            F.round(F.max("q"), 6).alias("max_q"),
        )
    )


@query(
    "rolling_7day_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d, sum(CAST(o_totalprice AS DECIMAL(30,4))) AS rev
      FROM orders GROUP BY 1)
    SELECT strftime(d, '%Y-%m-%d') AS d,
           round(CAST(rev AS DOUBLE), 2) AS daily_rev,
           round(CAST(sum(rev) OVER (ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 2) AS rolling_7d
    FROM daily
    """,
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue: a RANGE-frame window (interval-bounded, not
    row-count-bounded — days with no orders must still age out of the
    frame). Aggregate-before-window: daily totals first, so the window
    state is |days|, not |orders|; decimal sums keep the rolling total
    order-independent. The global time-ordered window is a single-partition
    sort at |days| scale — fine; per-key variants partition it."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("rev")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("d").cast("timestamp").cast("long")).rangeBetween(
        -6 * 86400, 0
    )
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.round(F.col("rev").cast("double"), 2).alias("daily_rev"),
        F.round(F.sum("rev").over(w).cast("double"), 2).alias("rolling_7d"),
    )


@query(
    "disjunctive_part_revenue",
    oracle="""
    SELECT p_brand,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    GROUP BY p_brand
    """,
)
def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-of-ANDs predicate across a join (TPC-H Q19 shape). part broadcasts
    (dim-sized); the disjunction references both sides so it can only be
    evaluated post-join, but Catalyst still derives and pushes the
    single-side implications (brand IN (...), quantity BETWEEN 1 AND 30)
    down to each scan, so the join sees pre-filtered inputs."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")

    def arm(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & q.between(q_lo, q_hi)
        )

    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(arm("Brand#12", 15, 1, 11) | arm("Brand#23", 25, 10, 20) | arm("Brand#34", 35, 20, 30))
        .groupBy("p_brand")
        .agg(
            F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "idle_customer_balances",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_custs,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def idle_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + anti join (TPC-H Q22 shape): above-average-balance
    customers with no recent orders. The scalar average is a 1-row aggregate
    cross-joined in (broadcast, no driver collect); the NOT EXISTS is a
    left-anti join against date-filtered orders — the filter prunes the
    anti-join build input at the scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(_dsum(F.col("c_acctbal")), 2).alias("total_bal"),
        )
    )


@query(
    "asia_market_share_by_year",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           round(CAST(sum(CASE WHEN r_name = 'ASIA'
                          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))
                          ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE),
                 6) AS asia_share,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def asia_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-share aggregate (TPC-H Q8 shape): ASIA-supplier revenue
    share per order year. One shuffle (lineitem⋈orders on orderkey);
    supplier/nation/region broadcast; the share is a conditional decimal
    sum over total — computed in the same single aggregate, no second
    pass over the fact table."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,4)")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    asia = F.when(F.col("r_name") == "ASIA", rev).otherwise(F.lit(0).cast("decimal(30,4)"))
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.try_divide(F.sum(asia).cast("double"), F.sum(rev).cast("double")), 6
            ).alias("asia_share"),
            F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"),
        )
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    tf AS (SELECT lang, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT lang, term, tf,
             round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT *, CAST(row_number() OVER (
                    PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rnk
          FROM scored)
    SELECT lang, term, tf, tfidf, rnk FROM r WHERE rnk <= 10
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF: per-language top-10 terms by term-frequency ×
    inverse-document-frequency — the canonical keyword/feature-selection
    step for corpus curation. Tokens are exploded once and reused for both
    the (lang, term) frequency and the per-term document frequency; both
    aggregates partial-agg before their shuffles, so the Zipf head (the
    skewed shuffle key risk) is combined map-side. The doc count joins in
    as a broadcast 1-row aggregate, and the final top-10 is a grouped
    window over |lang|×|vocab| rows — the raw corpus is long gone."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("__n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    return rank.top_n_per_group(scored, ("lang",), "tfidf", n=10, tiebreak=("term",))


@query(
    "order_price_histogram",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 20000), 24) AS INTEGER) AS bucket,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_price
    FROM orders GROUP BY 1
    """,
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin numeric histogram (profiling primitive): constant bin
    width and a clamped top bucket, so the bin id is a pure per-row
    expression — one partial-agged shuffle of at most 25 groups, no
    pre-pass to find bounds. (A data-driven variant would compute bounds
    via approx quantiles first; fixed bins keep it single-pass.)"""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 20000), F.lit(24)).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(_dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
    )


@query(
    "top_supplier_by_quarter",
    oracle="""
    WITH rev AS (
      SELECT date_trunc('quarter', l_shipdate) AS q, l_suppkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS rev
      FROM lineitem GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (
                    PARTITION BY q ORDER BY rev DESC, l_suppkey ASC) AS rnk
          FROM rev)
    SELECT strftime(q, '%Y-%m-%d') AS quarter, s_name,
           round(CAST(rev AS DOUBLE), 2) AS revenue
    FROM r JOIN supplier ON l_suppkey = s_suppkey
    WHERE rnk = 1
    """,
)
def top_supplier_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-per-group across a derived time key (TPC-H Q15 shape):
    quarterly revenue per supplier, then the top supplier of each quarter.
    Aggregate-before-rank: the window ranks |quarters|×|suppliers|
    aggregate rows, not lineitems; the supplier name joins in by broadcast
    AFTER the rank-1 filter, so only |quarters| rows reach the join. The
    decimal revenue is kept exact through the rank (order ties can't flip
    on float rounding) and surfaced as double only in the projection."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = li.groupBy(
        F.date_trunc("quarter", "l_shipdate").alias("q"), "l_suppkey"
    ).agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,4)")).alias("rev")
    )
    top = rank.top_n_per_group(rev, ("q",), "rev", n=1, tiebreak=("l_suppkey",))
    return top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey).select(
        F.date_format("q", "yyyy-MM-dd").alias("quarter"),
        "s_name",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
    )


@query(
    "chunk_sliding_windows",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents),
    meta AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 64 THEN 1
                  ELSE CAST(ceil((len(t) - 64) / 48.0) AS INTEGER) + 1 END AS n_chunks
      FROM tok),
    c AS (SELECT doc_id, t, n,
                 CAST(unnest(generate_series(0, n_chunks - 1)) AS INTEGER) AS chunk_id
          FROM meta)
    SELECT doc_id, chunk_id,
           CAST(len(list_slice(t, chunk_id * 48 + 1,
                               least(chunk_id * 48 + 64, n))) AS INTEGER) AS chunk_tokens,
           array_to_string(list_slice(t, chunk_id * 48 + 1,
                                      least(chunk_id * 48 + 64, n)), ' ') AS chunk_text
    FROM c
    """,
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (``packing.chunk_by_tokens``): 64-token
    windows, 16-token overlap (stride 48) — the long-document →
    training-sequence splitter. Closed-form chunk count + explode(sequence)
    + slice, all Catalyst expressions; rows fan out by ceil(len/stride)
    with no shuffle at all (narrow explode on the scan partitioning)."""
    docs = _t(spark, sf_dir, "documents")
    return packing.chunk_by_tokens(
        docs, "doc_id", "text", max_tokens=64, overlap=16
    )


@query(
    "bigram_merge_candidates",
    oracle="""
    WITH tok AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents),
    pairs AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i))
    SELECT a, b, count(*) AS n_pairs
    FROM pairs GROUP BY a, b
    ORDER BY n_pairs DESC, a ASC, b ASC LIMIT 20
    """,
)
def bigram_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate mining (``text.adjacent_pairs``): the 20 most
    frequent adjacent token pairs — one iteration of the BPE vocabulary
    induction loop. Pair counts partial-agg map-side before the single
    (a, b) shuffle (Zipf-headed keys combine locally), and the top-20 is
    TakeOrderedAndProject with a total-order tie-break, not a global sort."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.adjacent_pairs(docs, "text", "doc_id")
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


def _bpe_oracle_chain(merges: int = 5) -> str:
    """DuckDB replay of the full BPE training loop: one chained CTE block
    per merge round — pair counts (lead window), the (count desc, left asc,
    right asc) winning rule, greedy non-overlap selection via the islands
    parity trick, and the re-tokenized stream for the next round. The same
    algebra the engine runs. Returns the WITH-chain up through
    ``tok{merges+1}`` (the fully-encoded stream) so both the rule-table
    oracle and the encode-stats oracle share it.

    Every chained CTE is MATERIALIZED: each round's ``p``/``top``/``sel``
    is referenced 2-3 times downstream, and DuckDB re-inlines
    non-materialized multi-reference CTEs — with a 5-deep chain that
    re-evaluation compounds geometrically (measured: the encode oracle
    went from ~250 s to ~2 s at sf0.01 when materialized)."""
    sql = [
        r"""
    WITH tok1 AS MATERIALIZED (
      SELECT doc, row_number() OVER (PARTITION BY doc ORDER BY ord) AS pos, w AS tok
      FROM (
        SELECT doc_id AS doc,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
               generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1) AS ord
        FROM documents)
      WHERE w <> '')"""
    ]
    for i in range(1, merges + 1):
        sql.append(
            f"""
    , p{i} AS MATERIALIZED (
      SELECT doc, pos, tok,
             lead(tok) OVER (PARTITION BY doc ORDER BY pos) AS nxt
      FROM tok{i})
    , top{i} AS MATERIALIZED (
      SELECT {i} AS step, tok AS l, nxt AS r, count(*) AS c
      FROM p{i} WHERE nxt IS NOT NULL
      GROUP BY tok, nxt
      ORDER BY c DESC, l ASC, r ASC LIMIT 1)
    , sel{i} AS MATERIALIZED (
      SELECT doc, pos FROM (
        SELECT doc, pos, min(pos) OVER (PARTITION BY doc, grp) AS mn
        FROM (
          SELECT c.doc, c.pos,
                 c.pos - row_number() OVER (PARTITION BY c.doc ORDER BY c.pos) AS grp
          FROM (SELECT p.doc, p.pos
                FROM p{i} p JOIN top{i} t ON p.tok = t.l AND p.nxt = t.r) c))
      WHERE (pos - mn) % 2 = 0)
    , tok{i + 1} AS MATERIALIZED (
      SELECT doc, row_number() OVER (PARTITION BY doc ORDER BY pos) AS pos, tok
      FROM (
        SELECT p.doc, p.pos,
               CASE WHEN s.pos IS NOT NULL THEN p.tok || ' ' || p.nxt
                    ELSE p.tok END AS tok
        FROM p{i} p
        LEFT JOIN sel{i} s ON s.doc = p.doc AND s.pos = p.pos
        LEFT JOIN (SELECT doc, pos + 1 AS pos FROM sel{i}) x
               ON x.doc = p.doc AND x.pos = p.pos
        WHERE x.pos IS NULL))"""
        )
    return "".join(sql)


def _bpe_train_oracle(merges: int = 5) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT * FROM top{i}" for i in range(1, merges + 1)
    )
    return (
        _bpe_oracle_chain(merges)
        + f"""
    SELECT step, l AS "left", r AS "right", l || ' ' || r AS merged,
           CAST(c AS BIGINT) AS n_pairs
    FROM ({union})"""
    )


def _bpe_encode_oracle(merges: int = 5) -> str:
    return (
        _bpe_oracle_chain(merges)
        + f"""
    , before AS (SELECT doc, count(*) AS nb FROM tok1 GROUP BY doc)
    , after AS (SELECT doc, count(*) AS na,
                       sum(CASE WHEN contains(tok, ' ') THEN 1 ELSE 0 END) AS nm
                FROM tok{merges + 1} GROUP BY doc)
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(coalesce(b.nb, 0)) AS BIGINT) AS tokens_before,
           CAST(sum(coalesce(a.na, 0)) AS BIGINT) AS tokens_after,
           CAST(sum(coalesce(a.nm, 0)) AS BIGINT) AS merged_tokens,
           round(CAST(sum(coalesce(a.na, 0)) AS DOUBLE)
                 / sum(coalesce(b.nb, 0)), 6) AS compression
    FROM documents d
    LEFT JOIN before b ON b.doc = d.doc_id
    LEFT JOIN after a ON a.doc = d.doc_id
    GROUP BY d.lang"""
    )


@query("bpe_train_merges", oracle=_bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterated BPE TOKENIZER-TRAINING loop (``text.bpe_train_merges``,
    VERDICT_r08 item 7 — the missing twin of the one-step
    ``bigram_merge_candidates``): five rounds of count-adjacent-pairs →
    adopt the most frequent pair (count desc, left asc, right asc — a
    total order) → greedily re-merge the corpus left-to-right, each round
    a lead-window pair count + ONE-ROW broadcast of the winning rule + an
    islands-parity merge pass (no driver collect anywhere). The oracle
    replays all five rounds in chained SQL, so the learned vocabulary is
    hash-gated, not self-reported."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_train_merges(docs, "text", "doc_id", merges=5)


@query("bpe_encode_stats", oracle=_bpe_encode_oracle())
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ENCODE side of the BPE loop (``text.bpe_train_encode``): the
    training loop's final token stream IS the corpus greedily encoded with
    every learned rule, so per-language compression accounting — tokens
    before/after, how many emitted tokens are merge products, compression
    ratio — falls out of the same five rounds at no extra corpus pass. The
    oracle replays the identical chain and aggregates its final stream, so
    the encoded corpus itself (not just the rule table) is hash-gated.
    This is the number a tokenizer-training run is judged by: how much of
    the token budget the learned vocabulary actually buys per language."""
    docs = _t(spark, sf_dir, "documents")
    _rules, stream = text.bpe_train_encode(docs, "text", "doc_id", merges=5)
    before = docs.select(
        "doc_id",
        "lang",
        F.size(
            F.filter(text.tokens(F.lower(F.col("text"))), lambda x: x != "")
        ).alias("__nb"),
    )
    after = stream.groupBy("doc").agg(
        F.count("*").alias("__na"),
        F.sum(F.when(F.col("token").contains(" "), 1).otherwise(0)).alias("__nm"),
    )
    return (
        before.join(after, before.doc_id == after.doc, "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("__nb", F.lit(0))).cast("long").alias("tokens_before"),
            F.sum(F.coalesce("__na", F.lit(0))).cast("long").alias("tokens_after"),
            F.sum(F.coalesce("__nm", F.lit(0))).cast("long").alias("merged_tokens"),
            F.round(
                F.sum(F.coalesce("__na", F.lit(0))).cast("double")
                / F.sum(F.coalesce("__nb", F.lit(0))),
                6,
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# Classic decision-support shapes, round 2: the remaining TPC-H query
# structures expressible on this schema (no partsupp table, no
# commit/receipt dates — Q2/Q11/Q16/Q20 cost columns are proxied by
# p_retailprice, Q4/Q21 "late" semantics by l_returnflag = 'R').
# ---------------------------------------------------------------------------


@query(
    "order_priority_exists",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS decorrelated to a left-semi join): orders in a
    quarter with at least one returned line, counted per priority. The semi
    join carries only ``l_orderkey`` (the probe side is pre-projected to the
    key), and the date filter prunes the orders scan before the shuffle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    r = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(r, o.o_orderkey == r.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "forecast_revenue_change",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,4)))
                 AS DOUBLE), 2) AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table scan-heavy aggregate whose entire
    predicate set (ship-date range, discount band, quantity cap) pushes down
    to the parquet scan — at 100 TB this is a pure row-group-skipping
    exercise with a one-row result and no shuffle beyond the final
    partial-agg merge."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(_dsum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue_delta"
        )
    )


@query(
    "volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           round(CAST(sum(CAST(vol AS DECIMAL(30,4))) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS vol
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bidirectional two-nation trade volume by year). The
    nation filter is pushed through BOTH dimension joins before the single
    fact-fact shuffle: suppliers and customers are pre-restricted to the two
    nations (broadcast joins), so the lineitem⋈orders join — the only real
    shuffle — carries just the qualifying trade lines."""
    nat = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cus = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").join(
        F.broadcast(cus), F.col("o_custkey") == F.col("c_custkey")
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "product_type_profit",
    oracle="""
    SELECT n_name AS nation, CAST(year(l_shipdate) AS INTEGER) AS o_year,
           round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                               - 0.5 * p_retailprice * l_quantity
                          AS DECIMAL(30,4))) AS DOUBLE), 2) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_type = 'PROMO'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    GROUP BY n_name, CAST(year(l_shipdate) AS INTEGER)
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation and year; part supply cost
    proxied as 0.5·p_retailprice — this schema has no partsupp). Part and
    supplier→nation are broadcast dimension joins; the part filter lands
    before the join so only PROMO lines flow. One shuffle: the final
    (nation, year) aggregate."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey", "p_retailprice")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = _t(spark, sf_dir, "lineitem")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.round(_dsum(profit), 2).alias("profit"))
    )


@query(
    "returned_items_report",
    oracle="""
    SELECT c_custkey, c_name, round(CAST(rev AS DOUBLE), 2) AS revenue,
           c_acctbal, n_name
    FROM (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS rev
      FROM customer
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON n_nationkey = c_nationkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-04-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    ORDER BY rev DESC, c_custkey ASC LIMIT 20
    """,
)
def returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (top-20 customers by returned revenue in a quarter).
    Aggregate-before-join: revenue is summed per custkey on the fact side
    FIRST, then the 20-row candidate set picks up customer/nation attributes
    — the dimension join input shrinks from |lineitem| to |customers|, and
    the decimal sum (not its rounded double) is the sort key so the top-20
    cut is exact."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,4)"
                )
            ).alias("__rev")
        )
    )
    cus = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(F.broadcast(cus), rev.o_custkey == cus.c_custkey)
        .join(F.broadcast(nat), cus.c_nationkey == nat.n_nationkey)
        .orderBy(F.col("__rev").desc_nulls_last(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@query(
    "customer_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_customers
    FROM (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    GROUP BY n_orders
    """,
)
def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (order-count distribution including zero-order
    customers). Orders are pre-aggregated to (custkey, count) BEFORE the
    customer join — the left join then matches one row per customer instead
    of one per order, and zero-order customers surface via coalesce(0). The
    second aggregate's key space is tiny (distinct counts), so the final
    shuffle is negligible."""
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "large_volume_customers",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (IN-subquery on a grouped HAVING, decorrelated to a
    join): orders whose total line quantity exceeds 300. The HAVING filter
    collapses the fact table to a small key set before any join; the orders
    join shuffles only that set, and customer attributes broadcast in last.
    sum(l_quantity) is exact in doubles (quantities are small integers), so
    no decimal detour is needed."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


@query(
    "waiting_supplier_orders",
    oracle="""
    WITH rd AS (SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem WHERE l_returnflag = 'R'),
         multi AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp
                   FROM lineitem GROUP BY l_orderkey),
         sole AS (SELECT l_orderkey, min(l_suppkey) AS l_suppkey
                  FROM rd GROUP BY l_orderkey HAVING count(*) = 1)
    SELECT s_name, count(*) AS numwait
    FROM sole
    JOIN multi USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE n_supp > 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC LIMIT 20
    """,
)
def waiting_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS over the same fact, rewritten as
    two aggregates): suppliers who were the ONLY supplier with returned
    lines in a multi-supplier order ("late" proxied by l_returnflag = 'R' —
    no receipt/commit dates in this schema). Both correlated quantifiers
    collapse into per-order aggregates sharing one shuffle key
    (l_orderkey), instead of Spark's default plan of two extra self-joins
    against the full lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    rd = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    multi = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp")
    )
    sole = (
        rd.groupBy("l_orderkey")
        .agg(F.count("*").alias("__n_r"), F.min("l_suppkey").alias("l_suppkey"))
        .filter(F.col("__n_r") == 1)
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole.join(multi, "l_orderkey")
        .filter(F.col("__n_supp") > 1)
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@query(
    "important_brand_value",
    oracle="""
    WITH v AS (
      SELECT p_brand, sum(CAST(l_quantity * p_retailprice AS DECIMAL(30,4))) AS val
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY p_brand
    )
    SELECT p_brand, round(CAST(val AS DOUBLE), 2) AS stock_value
    FROM v
    WHERE CAST(val AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) * 0.04 FROM v)
    """,
)
def important_brand_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group values filtered against a fraction of the
    global total; inventory value proxied by shipped quantity ×
    p_retailprice — no partsupp here). The grouped aggregate is computed
    once and reused for both the per-brand values and the global threshold
    (a 1-row aggregate broadcast back as a cross join) — no second scan, no
    driver-side collect."""
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    v = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                (F.col("l_quantity") * F.col("p_retailprice")).cast("decimal(30,4)")
            ).alias("__val")
        )
    )
    total = v.agg((F.sum("__val").cast("double") * 0.04).alias("__threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("__val").cast("double") > F.col("__threshold"))
        .select(
            "p_brand", F.round(F.col("__val").cast("double"), 2).alias("stock_value")
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions, round 2: IVF ANN, int8 quantization audit,
# vocabulary-coverage (OOV) audit.
# ---------------------------------------------------------------------------


def _sql_dot(x: str, y: str) -> str:
    """DuckDB dot product of two float lists, accumulated in DOUBLE."""
    return (
        f"list_sum(list_transform(list_zip({x}, {y}),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _sql_sqd(x: str, y: str) -> str:
    """DuckDB squared L2 distance of two float lists, in DOUBLE."""
    return (
        f"list_sum(list_transform(list_zip({x}, {y}),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


def _ivf_oracle() -> str:
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
             FROM b WHERE vec_id % 25 = 0),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY acos DESC, cell_id ASC) AS rn
        FROM (
          SELECT b.vec_id, cent.cent_id AS cell_id,
                 {_sql_dot('b.embedding', 'cent.cvec')} / (b.nrm * cent.cnrm) AS acos
          FROM b CROSS JOIN cent)
      ) WHERE rn = 1),
    probes AS (
      SELECT query_id, cell_id FROM (
        SELECT query_id, cell_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY pcos DESC, cell_id ASC) AS rn
        FROM (
          SELECT q.vec_id AS query_id, cent.cent_id AS cell_id,
                 {_sql_dot('q.embedding', 'cent.cvec')} / (q.nrm * cent.cnrm) AS pcos
          FROM (SELECT * FROM b WHERE vec_id < 20) q CROSS JOIN cent)
      ) WHERE rn <= 3),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, round(cos, 5) + 0.0 AS cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id ASC) AS rn
      FROM (
        SELECT c.query_id, c.neighbor_id,
               list_sum(list_transform(list_zip(qb.embedding, nb.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (qb.nrm * nb.nrm) AS cos
        FROM cand c
        JOIN b qb ON qb.vec_id = c.query_id
        JOIN b nb ON nb.vec_id = c.neighbor_id)
    ) WHERE rn <= 10
    """


@query("similarity_topk_ivf", oracle=_ivf_oracle())
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(-flat) ANN (``similarity.cosine_topk_ivf``): corpus partitioned
    into Voronoi cells around deterministic centroids (vec_id % 25), queries
    probe their 3 nearest cells, exact cosine within. The third scale path
    next to hyperplane LSH and the bucketed-layout probe — per-query cost
    O(nprobe·N/cells) instead of O(N), with recall tunable via nprobe
    rather than plane count."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_ivf(q, emb, k=10, nprobe=3)
    return out.select("query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos"))


def _ivf_recall_oracle(cent: str, max_nprobe: int) -> str:
    """Replay of ``similarity.ivf_recall_curve`` (k=10, queries vec_id < 20)
    over the cells ``cent`` (cent_id, cvec, cnrm), a CTE chain that may read
    the normed corpus ``b``: recall@10 and candidates per nprobe 1..max."""
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings),
    {cent},
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT vec_id, cell_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY acos DESC, cell_id ASC) AS rn
        FROM (
          SELECT b.vec_id, cent.cent_id AS cell_id,
                 {_sql_dot('b.embedding', 'cent.cvec')} / (b.nrm * cent.cnrm) AS acos
          FROM b CROSS JOIN cent)
      ) WHERE rn = 1),
    probes AS (
      SELECT query_id, cell_id, rn AS pr FROM (
        SELECT query_id, cell_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY pcos DESC, cell_id ASC) AS rn
        FROM (
          SELECT q.vec_id AS query_id, cent.cent_id AS cell_id,
                 {_sql_dot('q.embedding', 'cent.cvec')} / (q.nrm * cent.cnrm) AS pcos
          FROM (SELECT * FROM b WHERE vec_id < 20) q CROSS JOIN cent)
      ) WHERE rn <= {max_nprobe}),
    sc AS (
      SELECT c.query_id, c.neighbor_id, c.pr,
             {_sql_dot('qb.embedding', 'nb.embedding')} / (qb.nrm * nb.nrm) AS cos
      FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.pr
        FROM probes p JOIN assign a ON a.cell_id = p.cell_id
        WHERE a.vec_id <> p.query_id) c
      JOIN b qb ON qb.vec_id = c.query_id
      JOIN b nb ON nb.vec_id = c.neighbor_id),
    lev AS (SELECT query_id, neighbor_id, cos,
                   CAST(unnest(generate_series(pr, {max_nprobe})) AS INTEGER) AS nprobe
            FROM sc),
    cand_per AS (SELECT nprobe, count(*) AS n_cand FROM lev GROUP BY 1),
    topk AS (SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               row_number() OVER (PARTITION BY nprobe, query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM lev) WHERE rn <= 10),
    exact AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM (
          SELECT q.vec_id AS query_id, nb.vec_id AS neighbor_id,
                 {_sql_dot('q.embedding', 'nb.embedding')} / (q.nrm * nb.nrm) AS cos
          FROM (SELECT * FROM b WHERE vec_id < 20) q CROSS JOIN b nb
          WHERE nb.vec_id <> q.vec_id)
      ) WHERE rn <= 10),
    hits_per AS (SELECT t.nprobe, count(*) AS hits
                 FROM topk t JOIN exact e
                   ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
                 GROUP BY 1),
    nq AS (SELECT count(DISTINCT vec_id) AS n_queries FROM b WHERE vec_id < 20)
    SELECT cp.nprobe,
           CAST(nq.n_queries AS BIGINT) AS n_queries,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
           round(CAST(coalesce(h.hits, 0) AS DOUBLE) / (10 * nq.n_queries), 6)
             AS recall_at_k,
           round(CAST(cp.n_cand AS DOUBLE) / nq.n_queries, 2) AS avg_candidates
    FROM cand_per cp LEFT JOIN hits_per h ON h.nprobe = cp.nprobe CROSS JOIN nq
    """


@query(
    "ivf_recall_audit",
    oracle=_ivf_recall_oracle(
        """cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nrm AS cnrm
             FROM b WHERE vec_id % 25 = 0)""",
        3,
    ),
)
def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cost-vs-recall certificate (``similarity.ivf_recall_curve``):
    recall@10 of the IVF search vs the exact brute-force twin for nprobe
    1→3 on the declared bounded query set, with the candidate workload each
    nprobe buys — the vector-side analogue of the MinHash banding S-curve
    (``minhash_blocking_quality``) and the number an operator reads before
    trusting ``similarity_topk_ivf`` / the persisted artifact path at
    scale. Candidates are scored ONCE at nprobe=3 and replicated to lower
    levels by probe rank (monotone candidate sets — no re-search); the
    exact leg is the declared all-pairs baseline on the bounded probe set,
    the same adjudication as ``similarity_topk``."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_recall_curve(q, emb, k=10, max_nprobe=3).orderBy("nprobe")


def _ivf_recall_trained_oracle() -> str:
    lloyd = ""
    for i in (1, 2):
        lloyd += f"""
    a{i} AS (
      SELECT vec_id, cid FROM (
        SELECT b.vec_id, c.cid, {_sql_sqd('b.embedding', 'c.cvec')} AS d2
        FROM b CROSS JOIN c{i - 1} c)
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
    ex{i} AS (
      SELECT a{i}.cid, unnest(b.embedding) AS val,
             generate_subscripts(b.embedding, 1) AS pos
      FROM b JOIN a{i} USING (vec_id)),
    mu{i} AS (SELECT cid, pos,
                   CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
            FROM ex{i} GROUP BY cid, pos),
    c{i} AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM mu{i} GROUP BY cid),"""
    return _ivf_recall_oracle(
        f"""c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM b ORDER BY vec_id LIMIT 25),{lloyd}
    cent AS (
      SELECT cid AS cent_id, cvec,
             sqrt(list_sum(list_transform(cvec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnrm
      FROM c2)""",
        8,
    )


@query("ivf_recall_trained", oracle=_ivf_recall_trained_oracle())
def ivf_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED IVF recall certificate (VERDICT_r08 item 1): same
    cost-vs-recall audit as ``ivf_recall_audit`` but with the serving cells
    trained by ``similarity.kmeans_centroids`` (k=25, 2 deterministic Lloyd
    iterations — lowest-id init, decimal mean accumulation, the exact
    contract ``kmeans_cluster_profile`` already oracle-replays) instead of
    the ``vec_id % 25`` corpus sample. Training moves recall@10 from
    0.16–0.32 (sampled cells, nprobe 1–3) to ≥ 0.9 at nprobe 8 — at a ~32%
    candidate fraction — on both test SFs; the oracle replays BOTH Lloyd
    iterations and the full probe/recall machinery in SQL, so the
    certificate itself is hash-gated, not self-reported. At 100 TB the
    training pass is k·iters broadcast-assign scans (no corpus shuffle) paid
    once at build; serving cost is unchanged O(nprobe·N/cells)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = similarity.kmeans_centroids(emb, k=25, iters=2, dim=_PQ_DIM).select(
        F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_recall_curve(
        q, emb, k=10, max_nprobe=8, centroids=cents
    ).orderBy("nprobe")


@query("ivf_artifact_roundtrip", oracle=_ivf_oracle())
def ivf_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index PERSISTENCE lifecycle (``similarity.write_ivf_artifact`` /
    ``cosine_topk_ivf_from_artifact`` — the vector-side counterpart of
    ``minhash_artifact_roundtrip``): the corpus is assigned to its
    deterministic cells once and landed ``partitionBy("cell_id")`` next to
    the centroid table; queries are then answered FROM THE ARTIFACT — the
    probe join touches only the probed cells' partition directories, which
    is the 100 TB serving shape (build cost paid once, per-query cost
    O(nprobe·N/cells) file reads). Sharing ``similarity_topk_ivf``'s
    oracle is the parity proof: results from the persisted index must be
    bit-identical to the direct in-memory assignment."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    path = _run_tmp(spark, "ivf_artifact", sf_dir)
    similarity.write_ivf_artifact(emb.select("vec_id", "embedding"), path)
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_ivf_from_artifact(spark, path, q, k=10, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos")
    )


@query("ivf_artifact_incremental", oracle=_ivf_oracle())
def ivf_artifact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance, oracle-gated end to end
    (ADVICE_r08 medium, now a declared query, not just a unit pin): the
    artifact is built from the OLD corpus slice (vec_id % 10 ≠ 7) with the
    full deterministic centroid set landed up front (``centroids=``), then
    the NEW batch (vec_id % 10 = 7) is appended THROUGH
    ``write_ivf_artifact(mode="append")`` — which must read the PERSISTED
    frozen centroids and leave them untouched. Because assignment is a
    pure function of (vector, frozen centroids), the incrementally-built
    index must answer queries BIT-IDENTICALLY to a single full build —
    proved by sharing ``similarity_topk_ivf``'s oracle. This is the 100 TB
    maintenance story: daily vector batches append cell files; nothing is
    re-assigned, the centroid table never moves, re-training is an
    explicit rebuild."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    path = _run_tmp(spark, "ivf_incr", sf_dir)
    cents = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") % 10 != 7).select("vec_id", "embedding")
    new = emb.filter(F.col("vec_id") % 10 == 7).select("vec_id", "embedding")
    similarity.write_ivf_artifact(old, path, centroids=cents)
    similarity.write_ivf_artifact(new, path, mode="append")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_ivf_from_artifact(spark, path, q, k=10, nprobe=3)
    return out.select(
        "query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos")
    )


# --- product quantization (PQ): subspace codebooks, ADC scan, refine ------
# Contract shared by the two PQ queries and their oracles: m=32 subspaces of
# dim/m=2, ksub=16 codewords, 2 Lloyd iterations (lowest-id init,
# decimal(30,12) mean accumulation, lowest-cid ties — the kmeans_centroids
# contract with a `sub` key so one job chain trains all 32 codebooks).
_PQ_M, _PQ_DIM, _PQ_KSUB = 32, 64, 16


def _pq_train_ctes(src: str = "b", lead: str = "", train_pred: str | None = None) -> str:
    """CTE chain replaying pq_train_codebooks + pq_encode in DuckDB SQL:
    b → sv (stacked subvectors) → c0 (init) → {a,ex,mu,c}×2 Lloyd
    iterations → enc (final assignment with quantization error). Chained
    multi-referenced CTEs are AS MATERIALIZED (PLAN_r10: DuckDB re-inlines
    them and re-evaluation compounds geometrically).

    ``src``/``lead`` parametrize the TRAINING SET: ``lead`` injects extra
    CTEs right after ``b`` (e.g. the coarse chain + residual table for the
    residual-PQ oracle), and ``src`` is the (vec_id, embedding) CTE the
    subvector stack reads from — ``b`` for raw vectors, ``rb`` for
    residuals. ``train_pred`` (a SQL predicate on vec_id) restricts the
    TRAINING rows only — init and both Lloyd folds — while the final
    ``enc`` assignment still encodes the full ``src`` through the trained
    codebooks: the frozen-quantizer append contract of
    ``write_ivfpq_artifact(mode="append")``."""
    dsub = _PQ_DIM // _PQ_M

    tsv = "svt" if train_pred else "sv"
    svt = (
        f""",
    svt AS MATERIALIZED (SELECT * FROM sv WHERE {train_pred})"""
        if train_pred
        else ""
    )
    ids0_pred = f" WHERE {train_pred}" if train_pred else ""
    it = ""
    prev = "c0"
    for i in (1, 2):
        it += f"""
    a{i} AS (
      SELECT vec_id, sub, cid FROM (
        SELECT sv.vec_id, sv.sub, c.cid, {_sql_sqd('sv.subvec', 'c.cvec')} AS d2
        FROM {tsv} sv JOIN {prev} c USING (sub))
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2 ASC, cid ASC) = 1),
    ex{i} AS (
      SELECT sv.sub, a.cid, unnest(sv.subvec) AS val,
             generate_subscripts(sv.subvec, 1) AS pos
      FROM {tsv} sv JOIN a{i} a ON a.vec_id = sv.vec_id AND a.sub = sv.sub),
    mu{i} AS (
      SELECT sub, cid, pos,
             CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS mval
      FROM ex{i} GROUP BY sub, cid, pos),
    c{i} AS MATERIALIZED (
      SELECT sub, cid, list(mval ORDER BY pos) AS cvec
      FROM mu{i} GROUP BY sub, cid),"""
        prev = f"c{i}"
    return f"""
    WITH b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings){lead},
    sv AS MATERIALIZED (
      SELECT t.vec_id, CAST(s.sub AS INTEGER) AS sub,
             t.embedding[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS subvec
      FROM {src} t CROSS JOIN
           (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub) s){svt},
    ids0 AS (SELECT vec_id FROM {src}{ids0_pred} ORDER BY vec_id LIMIT {_PQ_KSUB}),
    c0 AS (SELECT sv.sub, sv.vec_id AS cid, sv.subvec AS cvec
           FROM sv JOIN ids0 USING (vec_id)),{it}
    enc AS MATERIALIZED (
      SELECT vec_id, sub, cid, d2 FROM (
        SELECT sv.vec_id, sv.sub, c.cid, {_sql_sqd('sv.subvec', 'c.cvec')} AS d2
        FROM sv JOIN c2 c USING (sub))
      QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                 ORDER BY d2 ASC, cid ASC) = 1)"""


@query(
    "pq_codebook_distortion",
    oracle=_pq_train_ctes()
    + """
    SELECT CAST(sub AS INTEGER) AS sub,
           count(DISTINCT cid) AS n_cells,
           count(*) AS n_vectors,
           round(CAST(sum(CAST(round(d2, 12) AS DECIMAL(30,12))) AS DOUBLE)
                 / count(*), 6) AS mean_d2,
           round(max(d2), 6) AS max_d2
    FROM enc GROUP BY sub
    """,
)
def pq_codebook_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization CODEBOOK build + distortion audit
    (``similarity.pq_train_codebooks`` / ``pq_encode``): 64-dim vectors →
    32 subspaces × 16 codewords (2 deterministic Lloyd iterations — the
    ``kmeans_centroids`` contract with a ``sub`` key, so ONE job chain
    trains all 32 codebooks), then every vector is encoded and the
    per-subspace quantization error reported (live cells, mean/max squared
    error). PQ is the compressed-domain ANN tier: 64×4 B float32 → 32
    4-bit codes (~16 B packed), so at 100 TB the ADC scan reads a code
    table ~16× smaller than the embedding column and never touches the
    vectors. Training per iteration: one broadcast-assign pass over the
    stacked subvectors (no corpus shuffle), mean update exchanges ≤
    m·ksub·dsub rows after partial agg. The oracle replays BOTH Lloyd
    iterations per subspace in SQL, so the codebooks themselves are
    hash-gated, not just the summary."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = similarity.pq_train_codebooks(
        emb, m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2
    )
    codes = similarity.pq_encode(emb, cb, m=_PQ_M, dim=_PQ_DIM)
    return codes.groupBy("sub").agg(
        F.count_distinct("cid").alias("n_cells"),
        F.count("*").alias("n_vectors"),
        F.round(
            F.sum(F.round("d2", 12).cast("decimal(30,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_d2"),
        F.round(F.max("d2"), 6).alias("max_d2"),
    )


@query(
    "pq_adc_recall",
    oracle=_pq_train_ctes()
    + f""",
    q AS (SELECT vec_id FROM b WHERE vec_id < 20),
    lut AS MATERIALIZED (
      SELECT sv.vec_id AS query_id, sv.sub, c.cid,
             CAST(round({_sql_sqd('sv.subvec', 'c.cvec')}, 12)
                  AS DECIMAL(30,12)) AS ld
      FROM sv JOIN c2 c USING (sub) WHERE sv.vec_id < 20),
    adc AS MATERIALIZED (
      SELECT l.query_id, e.vec_id AS neighbor_id, sum(l.ld) AS adc_dec
      FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.cid
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2),
    rk AS MATERIALIZED (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dec ASC, neighbor_id ASC) AS rn
      FROM adc),
    refined AS (
      SELECT query_id, neighbor_id FROM (
        SELECT r.query_id, r.neighbor_id,
               row_number() OVER (PARTITION BY r.query_id
                   ORDER BY {_sql_sqd('qb.embedding', 'nb.embedding')} ASC,
                            r.neighbor_id ASC) AS rn2
        FROM rk r
        JOIN b qb ON qb.vec_id = r.query_id
        JOIN b nb ON nb.vec_id = r.neighbor_id
        WHERE r.rn <= 150)
      WHERE rn2 <= 10),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT qb.vec_id AS query_id, nb.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qb.vec_id
                   ORDER BY {_sql_sqd('qb.embedding', 'nb.embedding')} ASC,
                            nb.vec_id ASC) AS rn
        FROM (SELECT * FROM b WHERE vec_id < 20) qb CROSS JOIN b nb
        WHERE nb.vec_id <> qb.vec_id)
      WHERE rn <= 10),
    ha AS (SELECT t.query_id, count(*) AS h
           FROM (SELECT query_id, neighbor_id FROM rk WHERE rn <= 10) t
           JOIN exact e USING (query_id, neighbor_id) GROUP BY 1),
    hr AS (SELECT t.query_id, count(*) AS h
           FROM refined t JOIN exact e USING (query_id, neighbor_id) GROUP BY 1)
    SELECT CAST(q.vec_id AS BIGINT) AS query_id,
           CAST(coalesce(ha.h, 0) AS BIGINT) AS hits_adc,
           CAST(coalesce(hr.h, 0) AS BIGINT) AS hits_refined,
           round(CAST(coalesce(ha.h, 0) AS DOUBLE) / 10, 6) AS recall_adc,
           round(CAST(coalesce(hr.h, 0) AS DOUBLE) / 10, 6) AS recall_refined
    FROM q LEFT JOIN ha ON ha.query_id = q.vec_id
           LEFT JOIN hr ON hr.query_id = q.vec_id
    """,
)
def pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving-path recall CERTIFICATE (``similarity.pq_adc_recall_audit``
    — the ADC analogue of ``ivf_recall_trained``, shipped STRONG from day
    one rather than re-learning VERDICT_r08's IVF lesson): per query, the
    asymmetric-distance (ADC) top-10 over the encoded corpus, and the
    REFINED top-10 (exact re-rank of the ADC top-150 — the standard
    two-stage PQ pattern: compressed-domain scan prunes, then 150 exact
    distances per query, not N), each graded against the exact L2 top-10.
    Measured: refined recall@10 = 1.0 (sf0.01) / 0.99 avg, 0.90 min
    (sf0.1). Determinism: each LUT entry is a strict-array-order fold
    rounded at 12 → decimal(30,12) BEFORE the m-term sum, so the ADC score
    is exact decimal arithmetic — partial-agg order can't move it, and the
    oracle replays training, encoding, LUT, scan, refine, and exact legs
    entirely in SQL. Per-query output rows so the hash gates every
    candidate set, not an average. The exact leg is the declared bounded
    all-pairs baseline (ALL_PAIRS_NL_OK); at 100 TB the audit runs on a
    sampled query stratum while serving scans codes (~16× smaller than the
    vectors) and reads full embeddings only for the 150-row refine set."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.pq_adc_recall_audit(
        q, emb, m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2, k=10, refine=150
    )


def _ivfpq_coarse_ctes(train_pred: str | None = None) -> str:
    """Coarse-quantizer replay for ivfpq_topk: kmeans_centroids (k=25, 2
    Lloyd iterations, squared-L2 assignment) over the FULL vectors — the
    `g` chain, appended after _pq_train_ctes()'s `enc` so both trainings
    share the `b` scan. ``train_pred`` restricts the TRAINING rows (init
    + both Lloyd folds) for the frozen-quantizer append replay; the cell
    assignment downstream still covers all of ``b``."""
    tb = "bt" if train_pred else "b"
    bt = (
        f""",
    bt AS MATERIALIZED (SELECT * FROM b WHERE {train_pred})"""
        if train_pred
        else ""
    )
    it = ""
    prev = "g0"
    for i in (1, 2):
        it += f""",
    ga{i} AS (
      SELECT vec_id, cid FROM (
        SELECT b.vec_id, g.cid, {_sql_sqd('b.embedding', 'g.cvec')} AS d2
        FROM {tb} b CROSS JOIN {prev} g)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) = 1),
    gex{i} AS (
      SELECT a.cid, unnest(b.embedding) AS val,
             generate_subscripts(b.embedding, 1) AS pos
      FROM {tb} b JOIN ga{i} a USING (vec_id)),
    gmu{i} AS (
      SELECT cid, pos,
             CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS mval
      FROM gex{i} GROUP BY cid, pos),
    g{i} AS MATERIALIZED (
      SELECT cid, list(mval ORDER BY pos) AS cvec FROM gmu{i} GROUP BY cid)"""
        prev = f"g{i}"
    return f"""{bt},
    g0 AS (SELECT vec_id AS cid, embedding AS cvec FROM {tb} ORDER BY vec_id LIMIT 25){it}"""


# The IVF-PQ serve legs shared by the plain and residual oracles: each
# vector's trained coarse cell, each query's 8 nearest cells, and the
# ADC top-150 → exact re-rank → top-10 with an inline exact-hit flag.
_IVFPQ_CELLS_CTE = f"""
    cells AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, cid AS cell FROM (
        SELECT b.vec_id, g.cid, {_sql_sqd('b.embedding', 'g.cvec')} AS d2
        FROM b CROSS JOIN g2 g)
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d2 ASC, cid ASC) = 1)"""

_IVFPQ_PROBES_CTE = f"""
    probes AS (
      SELECT query_id, cell FROM (
        SELECT qb.vec_id AS query_id, g.cid AS cell,
               {_sql_sqd('qb.embedding', 'g.cvec')} AS pd
        FROM (SELECT * FROM b WHERE vec_id < 20) qb CROSS JOIN g2 g)
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY pd ASC, cell ASC) <= 8)"""

_IVFPQ_REFINE_SQL = f"""
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adcq) WHERE rn <= 150),
    refined AS MATERIALIZED (
      SELECT query_id, neighbor_id, td,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY td ASC, neighbor_id ASC) AS rnk
      FROM (
        SELECT s.query_id, s.neighbor_id,
               {_sql_sqd('qb.embedding', 'nb.embedding')} AS td
        FROM shortlist s
        JOIN b qb ON qb.vec_id = s.query_id
        JOIN b nb ON nb.vec_id = s.neighbor_id)),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qb.vec_id AS query_id, nb.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qb.vec_id
                   ORDER BY {_sql_sqd('qb.embedding', 'nb.embedding')} ASC,
                            nb.vec_id ASC) AS rn
        FROM (SELECT * FROM b WHERE vec_id < 20) qb CROSS JOIN b nb
        WHERE nb.vec_id <> qb.vec_id)
      WHERE rn <= 10)
    SELECT CAST(r.query_id AS BIGINT) AS query_id,
           CAST(r.rnk AS INTEGER) AS "rank",
           CAST(r.neighbor_id AS BIGINT) AS neighbor_id,
           round(r.td, 6) AS d2,
           CASE WHEN e.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
    FROM refined r
    LEFT JOIN exact e ON e.query_id = r.query_id
                     AND e.neighbor_id = r.neighbor_id
    WHERE r.rnk <= 10
    """


def _ivfpq_oracle(train_pred: str | None = None) -> str:
    """Full IVF-PQ serve replay. ``train_pred`` restricts BOTH trainings
    (coarse + PQ) to a vec_id slice while encoding, cell assignment,
    probing, ADC, refine, and the exact leg still cover the full corpus —
    the frozen-quantizer append lifecycle of
    ``write_ivfpq_artifact(mode=\"append\")``."""
    return (
        _pq_train_ctes(train_pred=train_pred)
        + _ivfpq_coarse_ctes(train_pred=train_pred)
        + ","
        + _IVFPQ_CELLS_CTE
        + ","
        + _IVFPQ_PROBES_CTE
        + f""",
    cand AS MATERIALIZED (
      SELECT p.query_id, c.neighbor_id
      FROM probes p JOIN cells c USING (cell)
      WHERE c.neighbor_id <> p.query_id),
    lut AS MATERIALIZED (
      SELECT sv.vec_id AS query_id, sv.sub, c.cid,
             CAST(round({_sql_sqd('sv.subvec', 'c.cvec')}, 12)
                  AS DECIMAL(30,12)) AS ld
      FROM sv JOIN c2 c USING (sub) WHERE sv.vec_id < 20),
    adcq AS MATERIALIZED (
      SELECT cd.query_id, cd.neighbor_id, sum(l.ld) AS adc
      FROM cand cd
      JOIN enc e ON e.vec_id = cd.neighbor_id
      JOIN lut l ON l.query_id = cd.query_id AND l.sub = e.sub AND l.cid = e.cid
      GROUP BY 1, 2),"""
        + _IVFPQ_REFINE_SQL
    )


_IVFPQ_ORACLE = _ivfpq_oracle()


@query("similarity_topk_ivfpq", oracle=_IVFPQ_ORACLE)
def similarity_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the COMPOSED ANN serving architecture
    (``similarity.ivfpq_topk_audit``; FAISS IndexIVFPQ shape, non-residual):
    trained coarse quantizer (``kmeans_centroids`` k=25 × 2 Lloyd
    iterations) prunes to nprobe=8 cells, the PQ code table
    (``pq_train_codebooks`` m=32 × ksub=16) ADC-scores only those cells'
    members, the ADC top-150 get exact re-ranked, and the output IS the
    served top-10 per query with an inline exact-hit flag — so ONE hash
    gates the coarse training, the PQ training, the cell assignment, the
    ADC ranking, the refine, and the recall certificate (recall@10 = 0.915
    sf0.01 / 0.945 sf0.1, visible as sum(hit)/(10·nq)). Single metric
    (squared L2) end to end. At 100 TB this is the architecture the
    embedding column actually serves from: per query, 8/25ths of a code
    table ~16× smaller than the vectors, plus 150 exact distances — the
    oracle replays BOTH trainings and the full serve in SQL."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivfpq_topk_audit(
        q, emb, coarse_k=25, coarse_iters=2, nprobe=8,
        m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2, refine=150, k=10,
    )


def _ivfpq_residual_oracle() -> str:
    dsub = _PQ_DIM // _PQ_M
    lead = (
        _ivfpq_coarse_ctes()
        + ","
        + _IVFPQ_CELLS_CTE
        + """,
    rb AS MATERIALIZED (
      SELECT b.vec_id,
             list_transform(list_zip(b.embedding, g.cvec),
                            z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
               AS embedding
      FROM b JOIN cells c ON c.neighbor_id = b.vec_id
             JOIN g2 g ON g.cid = c.cell)"""
    )
    return (
        _pq_train_ctes(src="rb", lead=lead)
        + ","
        + _IVFPQ_PROBES_CTE
        + f""",
    qres AS MATERIALIZED (
      SELECT p.query_id, p.cell,
             list_transform(list_zip(qb.embedding, g.cvec),
                            z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))
               AS qrv
      FROM probes p JOIN b qb ON qb.vec_id = p.query_id
                    JOIN g2 g ON g.cid = p.cell),
    qsv2 AS (
      SELECT q.query_id, q.cell, CAST(s.sub AS INTEGER) AS sub,
             q.qrv[s.sub * {dsub} + 1 : s.sub * {dsub} + {dsub}] AS subvec
      FROM qres q CROSS JOIN
           (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub) s),
    lut AS MATERIALIZED (
      SELECT q.query_id, q.cell, q.sub, c.cid,
             CAST(round({_sql_sqd('q.subvec', 'c.cvec')}, 12)
                  AS DECIMAL(30,12)) AS ld
      FROM qsv2 q JOIN c2 c USING (sub)),
    cand AS MATERIALIZED (
      SELECT p.query_id, p.cell, c.neighbor_id
      FROM probes p JOIN cells c USING (cell)
      WHERE c.neighbor_id <> p.query_id),
    adcq AS MATERIALIZED (
      SELECT cd.query_id, cd.neighbor_id, sum(l.ld) AS adc
      FROM cand cd
      JOIN enc e ON e.vec_id = cd.neighbor_id
      JOIN lut l ON l.query_id = cd.query_id AND l.cell = cd.cell
                AND l.sub = e.sub AND l.cid = e.cid
      GROUP BY 1, 2),"""
        + _IVFPQ_REFINE_SQL
    )


@query("similarity_topk_ivfpq_residual", oracle=_ivfpq_residual_oracle())
def similarity_topk_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ (``similarity.ivfpq_residual_topk_audit`` — FAISS
    ``by_residual=True``, the IndexIVFPQ DEFAULT): PQ codebooks trained on
    x − centroid[cell(x)], so the 16 codewords per subspace model the
    within-cell distribution the coarse quantizer already centered. The
    serve-side difference is the per-(query, probed-cell) ADC lookup table
    (the query residual changes per cell — nprobe× the LUT rows of the
    flat variant, still nprobe·m·ksub entries per query and zero extra
    corpus work). Same graded output and budget as
    ``similarity_topk_ivfpq`` (nprobe=8, refine=150, recall@10 = 0.915
    sf0.01 / 0.945 sf0.1). Honest note: on THIS synthetic corpus residual
    ≈ flat at every budget tried (within-cell residuals are near
    isotropic, so centering buys little) — the variant ships for
    capability parity with real IVFPQ deployments, where anisotropic
    residual mass is the norm and the declared machinery (residual
    training set, per-probe LUTs) is what changes. Oracle replays coarse
    training, residualization, residual-PQ training, per-cell LUTs, and
    the serve end to end."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivfpq_residual_topk_audit(
        q, emb, coarse_k=25, coarse_iters=2, nprobe=8,
        m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2, refine=150, k=10,
    )


@query("ivfpq_artifact_incremental", oracle=_ivfpq_oracle("vec_id % 10 <> 7"))
def ivfpq_artifact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ artifact INCREMENTAL append
    (``write_ivfpq_artifact(mode="append")`` — the composed counterpart of
    ``ivf_artifact_incremental``, closing the lifecycle the roundtrip
    docstring promises): the index is built from the 90% slice (BOTH
    quantizers train on it), the held-out 10% batch is appended THROUGH
    the frozen persisted centroids+codebooks (read back from the artifact,
    never retrained or rewritten — assignment and encoding are pure
    functions of (vector, quantizers)), and queries are served from the
    grown artifact. The oracle replays exactly that asymmetry: trainings
    restricted to vec_id % 10 <> 7, encoding/assignment/serve/exact legs
    over the FULL corpus — so the green row certifies the entire
    append-don't-retrain contract end to end, including that out-of-
    training-set vectors rank correctly through quantizers that never saw
    them. Same graded (query_id, rank, neighbor_id, d2, hit) output as
    ``similarity_topk_ivfpq``."""
    import shutil

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    old = emb.filter(F.col("vec_id") % 10 != 7)
    new = emb.filter(F.col("vec_id") % 10 == 7)
    path = _run_tmp(spark, "ivfpq_incr", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    similarity.write_ivfpq_artifact(
        old, path, coarse_k=25, coarse_iters=2,
        m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2,
    )
    similarity.write_ivfpq_artifact(
        new, path, mode="append", m=_PQ_M, dim=_PQ_DIM,
    )
    q = emb.filter(F.col("vec_id") < 20)
    served = similarity.ivfpq_topk_from_artifact(
        spark, path, q, nprobe=8, m=_PQ_M, dim=_PQ_DIM, refine=150, k=10
    )
    qd = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv")
    )
    return similarity._ivfpq_hit_tail(served, qd, nv, k=10)


@query("ivfpq_artifact_roundtrip", oracle=_IVFPQ_ORACLE)
def ivfpq_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index PERSISTENCE lifecycle
    (``similarity.write_ivfpq_artifact`` / ``ivfpq_topk_from_artifact`` —
    the composed counterpart of ``ivf_artifact_roundtrip``): both
    quantizers are trained ONCE and landed as four parquet tables
    (coarse centroids, PQ codebooks, PACKED per-vector code arrays
    partitioned by cell, and the cell-partitioned refine vector store);
    queries are then answered entirely FROM THE ARTIFACT — the ADC scan
    reads probed cells' code files (~16× smaller than the vectors) and
    the exact re-rank reads probed cells' vector files. Sharing
    ``similarity_topk_ivfpq``'s oracle is the parity proof: the persisted
    index must serve bit-identical top-k (probing, ADC, refine are pure
    functions of the frozen quantizers and codes). The hit-grading exact
    leg runs in-memory on the raw corpus — it is the audit, not part of
    the serving artifact. This is the 100 TB deployment shape: build
    once, serve from files, append new batches through the frozen
    quantizers, re-train = explicit rebuild."""
    import os

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = _run_tmp(spark, "ivfpq_artifact", sf_dir)
    similarity.write_ivfpq_artifact(
        emb, path, coarse_k=25, coarse_iters=2,
        m=_PQ_M, dim=_PQ_DIM, ksub=_PQ_KSUB, iters=2,
    )
    q = emb.filter(F.col("vec_id") < 20)
    served = similarity.ivfpq_topk_from_artifact(
        spark, path, q, nprobe=8, m=_PQ_M, dim=_PQ_DIM, refine=150, k=10
    )
    qd = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv")
    )
    return similarity._ivfpq_hit_tail(served, qd, nv, k=10)


@query(
    "embedding_quantization",
    oracle="""
    WITH per AS (
      SELECT label,
             greatest(list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS scale,
             embedding
      FROM embeddings
    ),
    e AS (
      SELECT label, scale,
             list_sum(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)
                          - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
               / len(embedding) AS mae
      FROM per
    )
    SELECT label, count(*) AS n_vecs,
           round(CAST(sum(CAST(scale AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS avg_scale,
           round(CAST(sum(CAST(mae AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS avg_mae
    FROM e GROUP BY label
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 quantization audit (``similarity.int8_quant_stats``): symmetric
    per-vector scales and reconstruction error, aggregated per label — the
    pre-flight check before shipping embeddings to an int8 ANN index. Pure
    Catalyst array expressions; the half-way rounding rule is pinned to
    floor(v + 0.5) so engine and oracle agree bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.int8_quant_stats(emb)


@query(
    "vocab_coverage_oov",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    vocab AS (
      SELECT w FROM (SELECT w, count(*) AS c FROM tk GROUP BY w
                     ORDER BY c DESC, w ASC LIMIT 200)
    ),
    d AS (
      SELECT doc_id, lang, count(*) AS n_tok,
             sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END) AS n_oov
      FROM tk GROUP BY doc_id, lang
    )
    SELECT lang, count(*) AS n_docs,
           round(CAST(sum(CAST(n_oov * 1.0 / n_tok AS DECIMAL(30,12))) AS DOUBLE)
                 / count(*), 6) AS avg_oov_rate
    FROM d GROUP BY lang
    """,
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit (``text.oov_stats``): per-language mean
    out-of-vocabulary rate against a corpus-induced top-200 vocabulary. The
    vocab is a TakeOrderedAndProject over partial-agg'd token counts, then
    broadcast back as a join flag — the second pass never shuffles text."""
    docs = _t(spark, sf_dir, "documents")
    return text.oov_stats(docs, "text", "doc_id", "lang", vocab_size=200)


# ---------------------------------------------------------------------------
# 16. round-3 extensions: LM scoring, entropy, k-means, percentiles, SCD2,
#     forward as-of, incremental dedup
# ---------------------------------------------------------------------------


@query(
    "unigram_logprob_scores",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    cnt AS (SELECT w, count(*) AS c FROM tk GROUP BY w),
    sc AS (SELECT sum(c) AS n, count(*) AS v FROM cnt)
    SELECT tk.doc_id, count(*) AS n_tokens,
           round(CAST(sum(CAST(round(-ln((cnt.c + 1) * 1.0 / (sc.n + sc.v)), 12)
                              AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS avg_neg_logprob
    FROM tk JOIN cnt USING (w) CROSS JOIN sc
    GROUP BY tk.doc_id
    """,
)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scores (``text.unigram_logprob_stats``):
    add-one-smoothed corpus unigram LM, mean token −ln p per document. The
    LM fit is one token-keyed shuffle; the scoring join never moves text."""
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_logprob_stats(docs, "text", "doc_id")


@query(
    "char_entropy_scores",
    oracle=r"""
    WITH ch AS (
      SELECT doc_id, c FROM (
        SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
      WHERE c <> ''
    ),
    pc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
    tot AS (SELECT doc_id, sum(k) AS n FROM pc GROUP BY doc_id)
    SELECT pc.doc_id,
           CAST(max(tot.n) AS BIGINT) AS n_chars,
           round(CAST(sum(CAST(round(-(k * 1.0 / tot.n) * log2(k * 1.0 / tot.n), 12)
                              AS DECIMAL(30,12))) AS DOUBLE), 6) AS char_entropy_bits
    FROM pc JOIN tot USING (doc_id)
    GROUP BY pc.doc_id
    """,
)
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document
    (``text.char_entropy_stats``) — the gibberish / encoding-noise detector;
    exploded-aggregate shape with (doc, char) shuffle keys."""
    docs = _t(spark, sf_dir, "documents")
    return text.char_entropy_stats(docs, "text", "doc_id")


# One deterministic Lloyd iteration of similarity.kmeans_lloyd (k=8,
# lowest-id init, decimal mean accumulation): `dt` holds every vector's
# squared-L2 distance to each updated centroid.
_KMEANS_LLOYD1_CTES = """
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    c0 AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT 8),
    d1 AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cvec),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
      FROM e CROSS JOIN c0 c
    ),
    a1 AS (SELECT vec_id, cid FROM d1
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1),
    ex AS (
      SELECT a1.cid, unnest(e.embedding) AS val,
             generate_subscripts(e.embedding, 1) AS pos
      FROM e JOIN a1 USING (vec_id)
    ),
    mu AS (SELECT cid, pos,
                  CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
           FROM ex GROUP BY cid, pos),
    c1 AS (SELECT cid, list(m ORDER BY pos) AS cvec FROM mu GROUP BY cid),
    dt AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(list_zip(e.embedding, c.cvec),
                 p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) AS d2
      FROM e CROSS JOIN c1 c
    )"""


@query(
    "kmeans_cluster_profile",
    oracle=_KMEANS_LLOYD1_CTES
    + """,
    a2 AS (SELECT vec_id, cid, d2 FROM dt
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1)
    SELECT cid, count(*) AS n_vecs,
           round(CAST(sum(CAST(round(d2, 9) AS DECIMAL(30,12))) AS DOUBLE)
                 / count(*), 6) AS avg_d2
    FROM a2 GROUP BY cid
    """,
)
def kmeans_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of distributed k-means (``similarity.kmeans_lloyd``,
    k=8, deterministic lowest-id init) and the resulting cluster profile —
    the semantic-dedup / corpus-clustering primitive. Assignment is a
    broadcast pass; centroid means shrink to ≤ k×dim rows map-side before
    their shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_lloyd(emb, k=8, iters=1, dim=_PQ_DIM)
    n = F.count("*")
    return assigned.groupBy("cid").agg(
        n.alias("n_vecs"),
        F.round(
            F.sum(F.round(F.col("d2"), 9).cast("decimal(30,12)")).cast("double") / n, 6
        ).alias("avg_d2"),
    )


@query(
    "event_value_percentiles",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p90/p99 of event value per type) via
    Spark's sort-based ``percentile`` — the latency-SLO report shape. Exact
    percentile is a per-group sort; the sketch twin for 100 TB cardinalities
    is ``approx_percentile`` (same plan, bounded memory), kept exact here so
    the oracle can pin interpolation semantics."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9D)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99D)"), 6).alias("p99"),
    )


@query(
    "scd2_event_intervals",
    oracle="""
    WITH e AS (SELECT user_id, ts, event_type, event_id FROM events WHERE user_id < 40),
    r AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    r2 AS (
      SELECT user_id, ts, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM r
    ),
    s AS (
      SELECT user_id, run, min(event_type) AS event_type,
             min(ts) AS vf, count(*) AS n_events
      FROM r2 GROUP BY user_id, run
    )
    SELECT user_id, event_type,
           strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY run ASC),
                    '%Y-%m-%d %H:%M:%S') AS valid_to,
           n_events
    FROM s
    """,
)
def scd2_event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals (``timeseries.change_intervals``): consecutive
    same-state events per user collapse to (state, valid_from, valid_to)
    rows — the dimension-history builder. One shuffle on user_id; both window
    passes share its sort."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    out = timeseries.change_intervals(
        ev.select("user_id", "ts", "event_type", "event_id"),
        ("user_id",),
        "ts",
        "event_type",
        tiebreak="event_id",
    )
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
    )


@query(
    "asof_purchase_next_click",
    oracle="""
    SELECT p_event_id, user_id, c_event_id, c_value FROM (
      SELECT p.event_id AS p_event_id, p.user_id AS user_id,
             c.event_id AS c_event_id, c.value AS c_value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts ASC NULLS LAST, c.event_id ASC NULLS LAST) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts >= p.ts
    ) WHERE rn = 1
    """,
)
def asof_purchase_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (forward direction): for each purchase, the same user's
    EARLIEST click at-or-after it — the attribution twin of
    ``asof_purchase_last_click``, proving the direction parameter of
    ``joins.asof_join`` (ties broken on event_id ascending)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    out = joins.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        direction="forward",
        left_id="event_id",
        tiebreak="event_id",
    )
    return out.select(
        F.col("l.event_id").alias("p_event_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_id").alias("c_event_id"),
        F.col("r.value").alias("c_value"),
    )


# Each doc's distinct word 3-shingles `sh` and their count `sizes`.
_SHINGLE_SIZES_CTES = r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""


@query(
    "minhash_incremental_neardups",
    oracle=_SHINGLE_SIZES_CTES
    + """,
    pairs AS (
      SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
      GROUP BY 1, 2
    )
    SELECT new_id, old_id,
           round(shared * 1.0 / (sa.sz + sb.sz - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON new_id = sa.doc_id
    JOIN sizes sb ON old_id = sb.doc_id
    WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.7
    """,
)
def minhash_incremental_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (``dedup.minhash_lsh_pairs_incremental``): near-dups
    of a simulated new batch (doc_id % 10 = 7) against the already-accepted
    corpus, new-vs-old bands only — the continuously-ingesting pipeline
    shape. Exact-verified candidates, checked against the exact cross-corpus
    Jaccard oracle. Threshold 0.7, NOT the family's default 0.5: the oracle
    is exact while the implementation verifies only band-collision
    candidates, and at (b=32, r=4) a pair at exactly j=0.5 collides with
    only ~0.88 probability — a data-dependent green. At j≥0.7 the miss
    probability is ≤1.5e-4 (and every qualifying pair in this corpus has
    j≥0.88, miss ≈3e-14), so oracle and implementation agree by
    construction, not by luck (round-3 advisory)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 7)
    old = docs.filter(F.col("doc_id") % 10 != 7)
    out = dedup.minhash_lsh_pairs_incremental(old, new, "text", "doc_id", min_jaccard=0.7)
    return out.select("new_id", "old_id", F.round("jaccard", 6).alias("jaccard"))


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(30,4))) AS DOUBLE) AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched per micro-batch with the
    static customer dimension (broadcast — the dim never shuffles, the stream
    never blocks), then aggregated by segment. The standard streaming
    enrichment shape; green iff the replayed-stream result equals the batch
    join+agg oracle over the same files."""
    import os

    from ..streaming import replay_events

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    return replay_events(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda s: _build_static_enrich(s, cust),
        query_name="stream_enrich_mem",
    ).select("mktsegment", "n", "total")


def _build_static_enrich(stream: DataFrame, cust: DataFrame) -> DataFrame:
    """stream_static_enrich's transformation (hoisted for the batch-twin
    plan probe): broadcast stream-static join + segment aggregate."""
    return (
        stream.join(F.broadcast(cust), "user_id")
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).cast("double").alias("total"),
        )
    )


# The SQL replay of _psi_readout over the (bin, n_ref, n_cur) counts `c`.
_PSI_READOUT_SQL = """
    b AS (SELECT unnest(range(0, 10)) AS bin),
    fl AS (SELECT b.bin, coalesce(c.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
           FROM b LEFT JOIN c ON b.bin = c.bin),
    t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM fl),
    x AS (SELECT fl.*, (n_ref + 1) * 1.0 / (tr + 10) AS p,
                       (n_cur + 1) * 1.0 / (tc + 10) AS q
          FROM fl CROSS JOIN t)
    SELECT bin, n_ref, n_cur,
           round((p - q) * ln(p / q), 12) AS contrib,
           round(CAST(sum(CAST(round((p - q) * ln(p / q), 12) AS DECIMAL(30,12)))
                      OVER () AS DOUBLE), 6) AS psi
    FROM x
    """


def _psi_readout(fl: DataFrame) -> DataFrame:
    """PSI over a fixed-bin histogram (bin, n_ref, n_cur): Laplace +1
    smoothed bin shares, per-bin contributions rounded at 12 digits, and
    their decimal sum as ``psi`` on every row."""
    from pyspark.sql import Window

    t = fl.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    x = fl.crossJoin(F.broadcast(t)).select(
        "bin",
        "n_ref",
        "n_cur",
        ((F.col("n_ref") + 1) / (F.col("tr") + 10)).alias("p"),
        ((F.col("n_cur") + 1) / (F.col("tc") + 10)).alias("q"),
    )
    contrib = F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 12)
    return x.select(
        "bin",
        "n_ref",
        "n_cur",
        contrib.alias("contrib"),
        F.round(
            F.sum(contrib.cast("decimal(30,12)"))
            .over(Window.partitionBy())
            .cast("double"),
            6,
        ).alias("psi"),
    )


@query(
    "stream_psi_drift",
    oracle="""
    WITH f AS (
      SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bin,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
      FROM events),
    c AS (SELECT bin,
                 CAST(sum(is_ref) AS BIGINT) AS n_ref,
                 CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
          FROM f GROUP BY 1),"""
    + _PSI_READOUT_SQL,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: the live half of the month arrives as a
    real stream whose per-bin value histogram aggregates micro-batch by
    micro-batch (complete mode — the running current-side counts), then
    joins the STATIC reference histogram (first half of the month, batch
    scan) for the PSI readout — the model-monitoring shape where the
    reference is frozen at training time and production traffic drifts
    against it. Same fixed-bin + Laplace-smoothing + rounded-contrib
    discipline as ``order_price_psi``; green iff the replayed-stream
    current counts make the PSI bit-equal to the all-batch oracle."""
    import os

    from ..streaming import replay_events

    cur = replay_events(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        _build_stream_psi_current,
        query_name="stream_psi_mem",
    )
    ref = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts") < "2024-01-16")
        .groupBy(
            F.least(F.floor(F.col("value") / 50), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(F.count("*").alias("n_ref"))
    )
    bins = spark.range(10).select(F.col("id").alias("bin"))
    fl = (
        bins.join(ref, "bin", "left")
        .join(cur, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    return _psi_readout(fl)


def _build_stream_psi_current(stream: DataFrame) -> DataFrame:
    """stream_psi_drift's streaming transformation (hoisted for the
    batch-twin plan probe): current-period filter + fixed-bin histogram —
    a non-windowed running aggregate the complete-mode sink keeps
    up to date each micro-batch."""
    return (
        stream.filter(F.col("ts") >= "2024-01-16")
        .groupBy(
            F.least(F.floor(F.col("value") / 50), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(F.count("*").alias("n_cur"))
    )


def _zorder_oracle() -> str:
    # same unrolled Morton interleave as operators/layout.zorder_key
    terms = " | ".join(
        f"((((l_orderkey % 65536) >> {i}) & 1) << {2 * i})" for i in range(16)
    ) + " | " + " | ".join(
        f"((((l_partkey % 65536) >> {i}) & 1) << {2 * i + 1})" for i in range(16)
    )
    return f"""
    SELECT l_orderkey, l_partkey, ({terms}) AS zkey
    FROM lineitem
    ORDER BY zkey ASC, l_orderkey ASC, l_linenumber ASC
    LIMIT 20
    """


@query("zorder_key_sample", oracle=_zorder_oracle())
def zorder_key_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key (``operators/layout.zorder_key``):
    interleaved bits of (orderkey, partkey) — the multi-column data-skipping
    layout. The key is pure codegen bit arithmetic, pinned exactly by the
    oracle's unrolled SQL; ``layout.write_zordered`` sorts-by-range on it at
    write time so parquet row-group min/max prune on BOTH columns."""
    from ..operators import layout

    li = _t(spark, sf_dir, "lineitem")
    z = layout.zorder_key(
        F.pmod(F.col("l_orderkey"), F.lit(65536)),
        F.pmod(F.col("l_partkey"), F.lit(65536)),
    )
    return (
        li.select("l_orderkey", "l_partkey", "l_linenumber", z.alias("zkey"))
        .orderBy(F.col("zkey").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(20)
        .select("l_orderkey", "l_partkey", "zkey")
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube, §2.4):
    (flag, status) + (flag) + grand total in ONE pass — Spark's Expand node
    replicates each input row per set before a single partial-agg'd
    aggregation, so the three granularities cost one shuffle, not three
    scans. ``grouping_id`` distinguishes the levels."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            _dsum(F.col("l_extendedprice")).alias("revenue"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "revenue")
    )


@query(
    "decontaminated_counts",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents)
      WHERE len(w) >= 3),
    bench AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 = 3),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 3),
    contaminated AS (
      SELECT DISTINCT t.doc_id
      FROM train t JOIN bench b ON t.s = b.s
      GROUP BY t.doc_id, b.doc_id HAVING count(*) >= 5
    )
    SELECT d.lang, count(*) AS n_docs
    FROM documents d
    WHERE d.doc_id % 7 <> 3
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY d.lang
    """,
)
def decontaminated_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination APPLY step: detect train docs overlapping a held
    benchmark split (≥5 shared 3-gram shingles — same detector as
    ``benchmark_contamination``), then drop them with a left_anti join and
    report surviving counts per language. Composition proof that audit
    output drives the actual filter; the anti-join's right side is the tiny
    contaminated-id list (broadcast)."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 7 != 3)
    bench = docs.filter(F.col("doc_id") % 7 == 3)
    overlaps = dedup.contamination_overlap(
        train, bench, "text", "doc_id", n=3, min_shared=5
    )
    contaminated = overlaps.select(F.col("train_id").alias("doc_id")).distinct()
    clean = train.join(F.broadcast(contaminated), "doc_id", "left_anti")
    return clean.groupBy("lang").agg(F.count("*").alias("n_docs"))


@query("stream_dedup_watermarked", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (``dropDuplicatesWithinWatermark``):
    the source replayed twice (every event duplicated) and deduped with
    state EVICTED as the watermark passes — the unbounded-stream form of
    ``stream_dedup_counts``, whose global-dedup state grows with distinct
    keys forever. Correct whenever duplicates arrive within the watermark
    delay of the original (here: same micro-batch); green iff counts equal
    the plain batch counts."""
    import os

    from ..streaming import dedup_stream, replay_events_pair

    def build(s1: DataFrame, s2: DataFrame) -> DataFrame:
        dup = s1.unionByName(s2)
        return dedup_stream(dup, ("event_id",), within_watermark=True).groupBy(
            "event_type"
        ).agg(F.count("*").alias("n"))

    return replay_events_pair(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        build,
        query_name="stream_dedup_wm_mem",
        output_mode="complete",
    )


@query(
    "grouped_topn_ties",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(rank() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal DESC NULLS LAST) AS INTEGER) AS rnk
      FROM customer
    ) WHERE rnk <= 3
    """,
)
def grouped_topn_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-n WITH ties (``rank()``, §2.7): equal account balances
    share a rank and all qualify, so the result is value-deterministic with
    no tiebreak column — the companion to ``grouped_topn``'s row_number
    (which needs a total order). Same single window shuffle."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc_nulls_last())
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.rank().over(w).cast("int").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "quality_percentile_calibration",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang,
             round(len(string_split_regex(trim(text), '\\s+')) * 1.0
                   / greatest(length(text), 1), 6) AS score
      FROM documents
    )
    SELECT doc_id, lang, score,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC), 6)
             AS pct_rank
    FROM q
    """,
)
def quality_percentile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration: percent_rank of a cheap quality signal (token
    density) within each language — the cross-lingual normalization step
    before mixing corpora (raw scores aren't comparable across languages;
    percentiles are). One window shuffle keyed by lang; doc_id tiebreak
    makes equal scores rank deterministically."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    score = F.round(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", score.alias("score"))
        .select(
            "doc_id",
            "lang",
            "score",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
    )


@query(
    "hll_mergeable_rollup",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month, event_type,
           count(DISTINCT user_id) AS n_exact, TRUE AS within_2pct
    FROM events GROUP BY month, event_type
    """,
)
def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Datasketches ``hll_sketch_agg`` /
    ``hll_union_agg``): per-day sketches of distinct users roll up to
    per-month estimates by UNIONING the day sketches — the day table is
    computed once and reused forever, never re-scanning events. This is the
    incremental-reporting shape ``approx_count_distinct`` can't express (its
    estimate is final, not re-aggregatable).

    Driver-visible gate: DuckDB can't evaluate Spark's sketch bytes, so the
    query emits the EXACT per-month distinct count (hash-matched by the
    oracle) plus ``within_2pct`` — sketch estimate vs exact — which the
    oracle pins to TRUE; a drifting sketch flips the boolean and fails the
    hash. lgConfigK=14 keeps HLL relative error ~0.4%, well inside the
    gate. Unit test additionally pins ±2% per-row at multiple SFs.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("event_type"),
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    monthly = daily.groupBy(
        F.date_format(F.date_trunc("month", F.col("day")), "yyyy-MM").alias("month"),
        "event_type",
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
    exact = ev.groupBy(
        F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias("month"),
        "event_type",
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.join(monthly, ["month", "event_type"]).select(
        "month",
        "event_type",
        "n_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= 0.02 * F.col("n_exact")
        ).alias("within_2pct"),
    )


@query(
    "capitalized_entities_top20",
    oracle=r"""
    WITH ents AS (
      SELECT unnest(regexp_extract_all(text, '\b([A-Z][a-z]{2,})', 1)) AS ent
      FROM documents
    )
    SELECT ent, count(*) AS n
    FROM ents GROUP BY ent
    ORDER BY n DESC, ent ASC LIMIT 20
    """,
)
def capitalized_entities_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-ish span extraction (``regexp_extract_all``, F-surface): all
    capitalized words ≥3 letters, global top-20 — the cheap NER stand-in a
    text pipeline runs before a real model. Explode → partial-agg'd count →
    ``TakeOrderedAndProject``; the regex runs inside codegen."""
    docs = _t(spark, sf_dir, "documents")
    ents = docs.select(
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"\b([A-Z][a-z]{2,})"), 1)
        ).alias("ent")
    )
    return (
        ents.groupBy("ent")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ent").asc())
        .limit(20)
    )


@query(
    "neardup_method_agreement",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents
      WHERE doc_id % 2 = 0),
    sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    jac AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5),
    emb AS (
      SELECT least(a.vec_id, b.vec_id) AS id_a, greatest(a.vec_id, b.vec_id) AS id_b
      FROM (SELECT * FROM embeddings WHERE vec_id % 2 = 0) a
      JOIN (SELECT * FROM embeddings WHERE vec_id % 2 = 0) b ON a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
            >= 0.4)
    SELECT
      CASE WHEN e.id_a IS NULL THEN 'text_only'
           WHEN j.id_a IS NULL THEN 'embedding_only'
           ELSE 'both' END AS method,
      count(*) AS n_pairs
    FROM jac j FULL OUTER JOIN emb e ON j.id_a = e.id_a AND j.id_b = e.id_b
    GROUP BY 1
    """,
)
def neardup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-agreement audit: near-dup pairs per detector family — lexical
    (3-gram Jaccard ≥ 0.5 on ``documents``) vs embedding (cosine ≥ 0.4 on
    ``embeddings``, same id space) — bucketed into text_only /
    embedding_only / both via a full outer join of the two tiny pair lists.
    The calibration signal that tells a dedup pipeline whether its cheap
    lexical pass can gate the expensive semantic one. Composition of two
    existing operators; only pair IDs ever join. Runs on a deterministic 50%
    sample (even ids) — an agreement AUDIT is a statistic, so sampling is
    the scale posture: the full-corpus variant costs the sum of both full
    dedup passes for no extra information."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 2 == 0)
    # both pair lists are tiny (near-dup suspects only); persist them so the
    # full-outer join's sort/AQE replanning can't re-evaluate the expensive
    # producer pipelines
    jac = (
        dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, min_jaccard=0.5)
        .select("id_a", "id_b")
        .persist()
    )
    cos = similarity.embedding_neardup_pairs(emb, min_cos=0.4).select("id_a", "id_b").persist()
    joined = jac.alias("j").join(
        cos.alias("e"),
        (F.col("j.id_a") == F.col("e.id_a")) & (F.col("j.id_b") == F.col("e.id_b")),
        "full_outer",
    )
    method = (
        F.when(F.col("e.id_a").isNull(), "text_only")
        .when(F.col("j.id_a").isNull(), "embedding_only")
        .otherwise("both")
    )
    return joined.select(method.alias("method")).groupBy("method").agg(
        F.count("*").alias("n_pairs")
    )


def _textrank_oracle(iters: int = 3) -> str:
    # chained-CTE replay of the fixed-iteration PageRank (see
    # text.textrank_keywords determinism contract)
    head = r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         t -> length(t) >= 3) AS t
      FROM documents
    ),
    ab AS (
      SELECT (p).a AS a, (p).b AS b FROM (
        SELECT unnest([{'a': t[i], 'b': t[i+1]} for i in range(1, len(t))]) AS p
        FROM toks)
      WHERE (p).a <> (p).b
    ),
    edges AS (
      SELECT a, b, count(*) AS w FROM (
        SELECT a, b FROM ab UNION ALL SELECT b, a FROM ab)
      GROUP BY a, b
    ),
    degrees AS (SELECT a, sum(w) AS wout FROM edges GROUP BY a),
    sc AS (SELECT count(*) AS n FROM degrees),
    r0 AS (
      SELECT a AS node,
             CAST(round(CAST(1.0 AS DOUBLE) / sc.n, 18) AS DECIMAL(38,18)) AS rank
      FROM degrees CROSS JOIN sc
    )"""
    body = ""
    for it in range(1, iters + 1):
        prev = f"r{it - 1}"
        body += f""",
    c{it} AS (
      SELECT e.b AS node,
             CAST(round(CAST(r.rank AS DOUBLE) * e.w / d.wout, 18)
                  AS DECIMAL(38,18)) AS c
      FROM edges e JOIN degrees d ON e.a = d.a JOIN {prev} r ON e.a = r.node
    ),
    r{it} AS (
      SELECT d.a AS node,
             CAST(round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / sc.n
                        + CAST(0.85 AS DOUBLE)
                          * coalesce(CAST(s.s AS DOUBLE), CAST(0.0 AS DOUBLE)), 18)
                  AS DECIMAL(38,18)) AS rank
      FROM degrees d CROSS JOIN sc
      LEFT JOIN (SELECT node, sum(c) AS s FROM c{it} GROUP BY node) s
        ON d.a = s.node
    )"""
    tail = f"""
    SELECT node AS token, round(CAST(rank AS DOUBLE), 9) AS rank
    FROM r{iters}
    ORDER BY rank DESC, token ASC LIMIT 20
    """
    return head + body + tail


@query("textrank_keywords_top20", oracle=_textrank_oracle())
def textrank_keywords_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (``text.textrank_keywords``): 3 fixed
    PageRank iterations over the token co-occurrence graph, top-20 by rank.
    The iterative-DataFrame template with a decimal determinism contract —
    the oracle replays every iteration through chained CTEs and must match
    bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    return text.textrank_keywords(docs, "text", iters=3, top_k=20)


@query(
    "event_transition_counts",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 3) OVER w AS c1,
             lag(event_type, 2) OVER w AS c2,
             lag(event_type, 1) OVER w AS c3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT c1 || '>' || c2 || '>' || c3 AS context, event_type AS next,
           count(*) AS n
    FROM seq WHERE c1 IS NOT NULL
    GROUP BY 1, 2
    """,
)
def event_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-dataset builder: 3-gram behavioral contexts → next-event
    transition counts (the Markov table a next-event model trains on, and
    the label distribution audit for sequence datasets). One window shuffle
    keyed by user; the three lags share its sort. Context is serialized as
    a string so the (context, next) groupBy partial-aggs map-side."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        F.col("event_type").alias("next"),
        F.lag("event_type", 3).over(w).alias("c1"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 1).over(w).alias("c3"),
    ).filter(F.col("c1").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "c1", "c2", "c3").alias("context"), "next"
        )
        .groupBy("context", "next")
        .agg(F.count("*").alias("n"))
    )


@query(
    "negative_sampling_pairs",
    oracle="""
    WITH idx AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id ASC) - 1 AS i
      FROM documents
    ),
    sc AS (SELECT count(*) AS n FROM idx),
    anchors AS (
      SELECT idx.doc_id AS anchor_id, idx.i, s.slot, sc.n
      FROM idx CROSS JOIN sc CROSS JOIN (SELECT unnest([1, 2, 3]) AS slot) s
    ),
    picked AS (
      SELECT anchor_id, slot,
             CASE WHEN (i * 2654435761 + slot * 40503) % (n - 1) >= i
                  THEN (i * 2654435761 + slot * 40503) % (n - 1) + 1
                  ELSE (i * 2654435761 + slot * 40503) % (n - 1) END AS neg_i
      FROM anchors
    )
    SELECT p.anchor_id, idx.doc_id AS neg_id, CAST(p.slot AS INTEGER) AS slot
    FROM picked p JOIN idx ON idx.i = p.neg_i
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (``sampling.negative_pairs``):
    3 pseudo-random partners per document via an affine hash over the dense
    index — reproducible under task retry (no rand()), self-pairs excluded
    by the shift trick, uniform over the other n−1 rows."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.negative_pairs(docs, "doc_id", k=3)
    return out.select("anchor_id", "neg_id", F.col("slot").cast("int").alias("slot"))


@query(
    "token_kl_drift_by_lang",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    oc AS (SELECT lang, w, count(*) AS co FROM tk WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    nc AS (SELECT lang, w, count(*) AS cn FROM tk WHERE doc_id % 2 = 1 GROUP BY 1, 2),
    j AS (
      SELECT coalesce(oc.lang, nc.lang) AS lang, coalesce(oc.w, nc.w) AS w,
             coalesce(co, 0) AS co, coalesce(cn, 0) AS cn
      FROM oc FULL OUTER JOIN nc ON oc.lang = nc.lang AND oc.w = nc.w
    ),
    tot AS (SELECT lang, sum(co) AS no, sum(cn) AS nn, count(*) AS v
            FROM j GROUP BY lang)
    SELECT j.lang,
           CAST(max(tot.no) AS BIGINT) AS n_tokens_old,
           CAST(max(tot.nn) AS BIGINT) AS n_tokens_new,
           round(CAST(sum(CAST(round(
             ((cn + 1) * 1.0 / (nn + v)) * ln(((cn + 1) * 1.0 / (nn + v))
                                             / ((co + 1) * 1.0 / (no + v))), 12)
             AS DECIMAL(30,12))) AS DOUBLE), 6) AS kl_new_vs_old
    FROM j JOIN tot ON j.lang = tot.lang
    GROUP BY j.lang
    """,
)
def token_kl_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit (``text.token_kl_drift``): KL(new‖old) of
    per-language unigram distributions between the even/odd doc_id halves
    (simulating two crawl snapshots). Token-keyed shuffles only; the oracle
    replays the decimal-summed divergence bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return text.token_kl_drift(old, new, "text", "lang")


@query(
    "user_value_trend",
    oracle="""
    SELECT user_id, count(*) AS n,
           round(regr_slope(value, epoch(ts)), 6) + 0.0 AS slope,
           round(regr_intercept(value, epoch(ts)), 6) + 0.0 AS intercept
    FROM events
    GROUP BY user_id HAVING count(*) >= 50
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event value over time via the built-in
    regression aggregates (``regr_slope``/``regr_intercept``) — closed-form
    OLS as a partial-agg'd groupBy, no pandas, no window. The feature-drift
    signal a per-entity monitor computes at scale; epoch seconds as x keeps
    both engines' arithmetic identical."""
    ev = _t(spark, sf_dir, "events")
    # NTZ→timestamp (wall-preserving under the UTC session)→double keeps
    # fractional seconds exactly like DuckDB epoch(); unix_timestamp would
    # truncate to whole seconds and skew the fit
    x = F.col("ts").cast("timestamp").cast("double")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            # + 0.0 folds IEEE negative zero to positive zero — Spark and
            # DuckDB round() disagree on the sign of a zero rounded from below
            (F.round(F.regr_slope(F.col("value"), x), 6) + F.lit(0.0)).alias("slope"),
            (F.round(F.regr_intercept(F.col("value"), x), 6) + F.lit(0.0)).alias("intercept"),
        )
        .filter(F.col("n") >= 50)
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source cycle (the second columnar interchange format Spark
    ships natively): typed round-trip must be lossless, and the ORC reader
    gets the same predicate-pushdown/column-pruning treatment as parquet.
    The oracle aggregates the ORIGINAL table — the round-trip is checked by
    being invisible."""
    import os

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    path = _run_tmp(spark, "orc_orders", sf_dir)
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("total_price"),
    )


@query(
    "fuzzy_customer_name_pairs",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 10 = 0),
    cand AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS na, b.c_name AS nb
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 10, 3) = substr(b.c_name, 10, 3)
      UNION
      SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 13, 3) = substr(b.c_name, 13, 3)
      UNION
      SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 16, 3) = substr(b.c_name, 16, 3)
    )
    SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INTEGER) AS dist
    FROM cand WHERE levenshtein(na, nb) <= 2
    """,
)
def fuzzy_customer_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy matching: customer-name pairs within edit
    distance ≤ 2 via ``edit_distance_pairs`` — multi-pass blocking where the
    union of per-key equi-joins IS the candidate generation (never
    all-pairs). The 18-char names are ``Customer#`` + 9 digits; the three
    blocking keys are the 3-digit chunks of the digit span (positions 10/13/
    16), so by pigeonhole any pair within 2 substitution edits agrees
    exactly on ≥1 chunk — full recall for the substitution class, unlike the
    earlier single-suffix block (which silently lost pairs whose edits both
    fell inside the suffix; round-3 verdict). Key-choice lesson retained: a
    block on the constant ``Customer#`` head is the all-pairs join in
    disguise (measured 300+ s at sf0.1); for sequential zero-padded ids the
    LEADING chunk is near-degenerate too, which is exactly the skew the
    operator docstring tells callers to hand to AQE's skew-join — real-name
    domains don't share one key value corpus-wide. Runs on a deterministic
    10% sample; ``levenshtein`` runs inside codegen on candidates only."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name")
    )
    return dedup.edit_distance_pairs(
        c,
        "c_name",
        "c_custkey",
        [F.substring("c_name", 10, 3), F.substring("c_name", 13, 3), F.substring("c_name", 16, 3)],
        max_dist=2,
    )


_BM25_TERMS = ("window", "sort", "column")

#: The BM25 scored-docs CTE chunk (yields ``bm25s(doc_id, bm25)``) — shared
#: between the plain top-20 oracle and the hybrid-RRF oracle so the scoring
#: SQL cannot drift between them.
_BM25_SCORES_SQL = r"""
    tk AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents)
      WHERE w <> ''
    ),
    dl AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY doc_id),
    sc AS (SELECT count(*) AS n, CAST(sum(len) AS DOUBLE) / count(*) AS avglen FROM dl),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM tk
      WHERE w IN ('window', 'sort', 'column') GROUP BY doc_id, w
    ),
    dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((sc.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / sc.avglen)), 12)
             AS DECIMAL(30,12)) AS term_score
      FROM tf JOIN dfq ON tf.w = dfq.w JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN sc
    ),
    bm25s AS (
      SELECT doc_id, round(CAST(sum(term_score) AS DOUBLE), 6) AS bm25
      FROM scored GROUP BY doc_id
    )
"""


@query(
    "bm25_search_top20",
    oracle="WITH "
    + _BM25_SCORES_SQL
    + "SELECT doc_id, bm25 FROM bm25s ORDER BY bm25 DESC, doc_id ASC LIMIT 20",
)
def bm25_search_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the relevance upgrade over the boolean ``search_documents`` surface.
    One token-keyed pass builds tf/df/doc-length; the two corpus scalars
    (N, avg length) broadcast; per-term scores round at 12 dp and sum in
    decimal so ranking is aggregation-order independent. Final top-20 is a
    ``TakeOrderedAndProject``."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@query(
    "containment_neardups",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                           for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS sc
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT contained_id, container_id,
           round(sc * 1.0 / sizes.sz, 6) AS containment
    FROM shared JOIN sizes ON contained_id = sizes.doc_id
    WHERE sc * 1.0 / sizes.sz >= 0.9
    """,
)
def containment_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (``dedup.shingle_containment_pairs``):
    ordered pairs where ≥90% of the contained doc's shingles appear in the
    container — the quote/subset relationship Jaccard under-scores (a
    paragraph inside a long page has low Jaccard but full containment).
    Training-data hygiene drops the CONTAINED side; the shingle equi-join is
    the blocking, as in the Jaccard family."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.shingle_containment_pairs(docs, "text", "doc_id", n=3, min_containment=0.9)
    return out.select(
        "contained_id", "container_id", F.round("containment", 6).alias("containment")
    )


@query(
    "neardup_dedup_apply",
    oracle="WITH RECURSIVE "
    + _NEARDUP_LABELS_CTES
    + """
    SELECT d.lang, count(*) AS n_docs_kept
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> component_id)
    GROUP BY d.lang
    """,
)
def neardup_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup application: near-dup pairs → connected components →
    drop every doc that is not its cluster's canonical (minimum-id)
    representative → surviving corpus counts per language. The composition a
    production pipeline actually ships (``neardup_components`` is the
    decision table; this query ACTS on it). The drop list is tiny (near-dup
    non-representatives only) so the anti-join broadcasts; the corpus is
    never shuffled."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    comp = dedup.connected_components(pairs)
    drop = comp.filter(F.col("id") != F.col("comp")).select(F.col("id").alias("doc_id"))
    kept = docs.join(F.broadcast(drop), "doc_id", "left_anti")
    return kept.groupBy("lang").agg(F.count("*").alias("n_docs_kept"))


@query(
    "event_value_anomalies",
    oracle="""
    WITH z AS (
      SELECT event_id, user_id, value,
             count(CAST(value AS DECIMAL(30,6))) OVER w AS n,
             CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS s2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           round((value - s1 / n) / sqrt(greatest((s2 - (s1 * s1) / n) / (n - 1.0), 0.0)), 6) + 0.0 AS z
    FROM z
    WHERE n >= 10
      AND sqrt(greatest((s2 - (s1 * s1) / n) / (n - 1.0), 0.0)) > 0
      AND abs((value - s1 / n) / sqrt(greatest((s2 - (s1 * s1) / n) / (n - 1.0), 0.0))) > 3.0
    """,
)
def event_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling anomaly detection (``timeseries.rolling_zscore``):
    each event's value scored against the mean/std of that user's previous
    ≤20 events (self-exclusive frame), |z| > 3 flagged. The monitoring /
    feature-engineering signal computed per entity in one key-partitioned
    window pass. Decimal windowed sums make the aggregates
    accumulation-order independent, so the double z is reproducible
    bit-for-bit against the SQL oracle."""
    ev = _t(spark, sf_dir, "events")
    scored = timeseries.rolling_zscore(
        ev, "user_id", ("ts", "event_id"), "value", window=20, min_obs=10
    )
    return scored.filter(F.abs(F.col("z")) > 3.0).select(
        "event_id",
        "user_id",
        "value",
        (F.round("z", 6) + F.lit(0.0)).alias("z"),
    )


@query(
    "chunk_dedup_stats",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text),'\s+') END AS t
      FROM documents),
    meta AS (
      SELECT doc_id, t, len(t) AS n,
             CASE WHEN len(t) <= 10 THEN 1
                  ELSE CAST(ceil((len(t)-10)/10.0) AS INTEGER)+1 END AS n_chunks
      FROM tok),
    c AS (SELECT doc_id, t, n,
                 CAST(unnest(generate_series(0, n_chunks-1)) AS INTEGER) AS chunk_id
          FROM meta),
    ch AS (SELECT doc_id, chunk_id,
                 len(list_slice(t, chunk_id*10+1, least(chunk_id*10+10, n))) AS ctoks,
                 array_to_string(list_slice(t, chunk_id*10+1, least(chunk_id*10+10, n)), ' ') AS ctext
           FROM c),
    occ AS (SELECT doc_id, ctoks, count(*) OVER (PARTITION BY ctext) AS n_occ FROM ch)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS total_chunks,
           CAST(sum(CASE WHEN n_occ<=1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
           CAST(sum(ctoks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN n_occ<=1 THEN ctoks ELSE 0 END) AS BIGINT) AS kept_tokens,
           round(sum(CASE WHEN n_occ<=1 THEN ctoks ELSE 0 END) * 1.0 / sum(ctoks), 6)
             AS kept_ratio
    FROM occ GROUP BY doc_id
    """,
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (``dedup.duplicate_chunk_stats``): C4's
    "drop any span occurring more than once in the corpus" rule at
    10-token-window granularity — per-document total vs surviving
    chunk/token counts. Document-level dedup can't see distinct pages
    sharing syndicated spans; this is the filter that actually removes
    them. Non-vacuous at sf0.01: 96/500 documents lose chunks. One corpus
    scan (chunk → digest → ``count() OVER (PARTITION BY digest)``), the
    window shuffle carries 32-B digests, never text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_chunk_stats(
        docs, "text", "doc_id", chunk_tokens=10, max_occurrences=1
    )


@query(
    "doclen_lognormal_fit",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             CASE WHEN trim(text)='' THEN 0
                  ELSE len(string_split_regex(trim(text),'\s+')) END AS n
      FROM documents),
    l AS (SELECT source, round(ln(n), 12) AS lx,
                 round(ln(n) * ln(n), 12) AS lx2
          FROM tok WHERE n > 0),
    s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(CAST(lx AS DECIMAL(30,12))) AS DOUBLE) AS s1,
                 CAST(sum(CAST(lx2 AS DECIMAL(30,12))) AS DOUBLE) AS s2
          FROM l GROUP BY source),
    m AS (SELECT source, n_docs, s1 / n_docs AS mu,
                 sqrt((s2 - s1 * s1 / n_docs) / (n_docs - 1.0)) AS sigma
          FROM s)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(mu, 6) AS mu_log,
           round(sigma, 6) AS sigma_log,
           round(exp(mu), 2) AS implied_median_tokens,
           round(exp(mu + sigma * sigma / 2), 2) AS implied_mean_tokens
    FROM m
    """,
)
def doclen_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log-normal fit of document length (method of moments on
    ln(token count)): μ, σ, and the implied median / mean token counts —
    the distributional summary a corpus intake compares across sources
    before setting chunking and packing budgets (a source whose implied
    mean ≫ median is long-tail-heavy and packs badly). Per-doc log terms
    round at 12 dp then decimal-sum (the PSI order-independence pattern);
    ln/exp evaluate on identical inputs in both engines. Empty docs are
    excluded from the fit (ln 0); one scan, one grouped aggregate."""
    docs = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    n = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    l = docs.select(
        "source",
        F.round(F.log(n), 12).alias("lx"),
        F.round(F.log(n) * F.log(n), 12).alias("lx2"),
        n.alias("__n"),
    ).filter(F.col("__n") > 0)
    s = l.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("lx").cast("decimal(30,12)")).cast("double").alias("s1"),
        F.sum(F.col("lx2").cast("decimal(30,12)")).cast("double").alias("s2"),
    )
    nd = F.col("n_docs")
    mu = F.col("s1") / nd
    sigma = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / nd) / (nd - 1.0))
    return s.select(
        "source",
        nd.cast("long").alias("n_docs"),
        F.round(mu, 6).alias("mu_log"),
        F.round(sigma, 6).alias("sigma_log"),
        F.round(F.exp(mu), 2).alias("implied_median_tokens"),
        F.round(F.exp(mu + sigma * sigma / 2), 2).alias("implied_mean_tokens"),
    )


@query(
    "readability_scores",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text),'\s+') END AS t,
             text
      FROM documents),
    m AS (
      SELECT doc_id,
             len(t) AS n_words,
             len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) <> '')) AS n_sentences,
             CAST(coalesce(list_sum(list_transform(t,
                    w -> greatest(len(regexp_extract_all(lower(w), '[aeiouy]+')),
                                  1))), 0) AS BIGINT) AS n_syllables
      FROM tok)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           n_syllables,
           CASE WHEN n_words > 0 THEN
             round(206.835
                   - 1.015 * (CAST(n_words AS DOUBLE)
                              / greatest(n_sentences, 1))
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
           END AS flesch
    FROM m
    """,
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability gate a
    curation pass runs next to the stopword/length heuristics
    (``doc_quality_scores``): words by the repo tokenization convention,
    sentences by non-empty ``[.!?]+`` segments, syllables by the
    vowel-group heuristic ``max(1, runs of [aeiouy])`` per word — every
    count a Catalyst regexp expression folded over the token array
    (``aggregate`` HOF, no explode, no shuffle: the score is embarrassingly
    per-row). ``greatest(sentences, 1)`` totalizes the ratio for
    punctuation-free docs; empty docs yield NULL. Both engines share the
    identical regex dialect subset (literal classes only)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    toks = F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    base = docs.select("doc_id", F.col("text"), toks.alias("__t"))
    n_words = F.size("__t")
    n_sentences = F.size(
        F.filter(F.split("text", r"[.!?]+"), lambda s: F.trim(s) != "")
    )
    n_syll = F.aggregate(
        "__t",
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.regexp_count(F.lower(w), F.lit("[aeiouy]+")), F.lit(1)
        ).cast("long"),
    )
    m = base.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.round(
                206.835
                - 1.015
                * (
                    F.col("n_words").cast("double")
                    / F.greatest(F.col("n_sentences"), F.lit(1))
                )
                - 84.6
                * (F.col("n_syllables").cast("double") / F.col("n_words")),
                4,
            ),
        ).alias("flesch"),
    )


# Per-doc whitespace tokens `meta` (t, n) and every stride-1 10-token
# window [s, e] whose text occurs more than once in the corpus, `dup`.
_DUP_SPAN_WINDOWS_CTES = r"""
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN trim(text)='' THEN []::VARCHAR[]
                  ELSE string_split_regex(trim(text),'\s+') END AS t
      FROM documents),
    meta AS (SELECT doc_id, t, len(t) AS n FROM tok),
    w AS (SELECT doc_id, t, n,
                 CAST(unnest(generate_series(0, n - 10)) AS INTEGER) AS s
          FROM meta WHERE n >= 10),
    g AS (SELECT doc_id, s,
                 array_to_string(list_slice(t, s + 1, s + 10), ' ') AS gram
          FROM w),
    occ AS (SELECT doc_id, s, s + 9 AS e,
                   count(*) OVER (PARTITION BY gram) AS n_occ
            FROM g),
    dup AS (SELECT doc_id, s, e FROM occ WHERE n_occ > 1)"""


@query(
    "duplicated_span_extents",
    oracle=_DUP_SPAN_WINDOWS_CTES
    + """,
    isl AS (SELECT doc_id, s, e,
                   CASE WHEN s > coalesce(max(e) OVER (
                          PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1 THEN 1 ELSE 0 END AS nf
            FROM dup),
    isl2 AS (SELECT doc_id, s, e,
                    sum(nf) OVER (PARTITION BY doc_id ORDER BY s) AS isle
             FROM isl),
    spans AS (SELECT doc_id, isle, min(s) AS ss, max(e) AS se
              FROM isl2 GROUP BY doc_id, isle),
    per AS (SELECT doc_id,
                   count(*) AS n_dup_spans,
                   sum(se - ss + 1) AS dup_tokens,
                   max(se - ss + 1) AS max_span_tokens
            FROM spans GROUP BY doc_id)
    SELECT m.doc_id,
           CAST(m.n AS BIGINT) AS n_tokens,
           CAST(coalesce(per.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(per.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
           CASE WHEN m.n > 0
                THEN round(CAST(coalesce(per.dup_tokens, 0) AS DOUBLE) / m.n, 6)
           END AS dup_ratio
    FROM meta m LEFT JOIN per ON m.doc_id = per.doc_id
    """,
)
def duplicated_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-SPAN dedup audit (``dedup.duplicated_span_extents``):
    the Lee-et-al suffix-array "duplicated span" rule re-expressed as
    stride-1 rolling 10-token-window digests → corpus-wide occurrence count
    → per-document gaps-and-islands merge into maximal duplicated spans.
    Complements ``chunk_dedup_stats`` (disjoint windows, boundary-blind):
    this reports token-resolution extents — how much of each doc is verbatim
    copy and the longest verbatim run. Digest-only shuffle (32 B + 2 longs
    per window ≈ per corpus token); island merge is per-doc bounded. The
    oracle replays the identical window/occurrence/island pipeline on gram
    text instead of digests (equal unless sha2 collides)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicated_span_extents(
        docs, "text", "doc_id", window_tokens=10, max_occurrences=1
    )


@query(
    "span_dedup_apply",
    oracle=_DUP_SPAN_WINDOWS_CTES
    + """,
    cov AS (SELECT DISTINCT doc_id,
                   CAST(unnest(generate_series(s, e)) AS INTEGER) AS p
            FROM dup),
    pos AS (SELECT doc_id, t,
                   CAST(unnest(generate_series(1, n)) AS INTEGER) AS i
            FROM meta WHERE n > 0),
    keptt AS (
      SELECT pos.doc_id, pos.i, pos.t[pos.i] AS tk
      FROM pos LEFT JOIN cov
        ON cov.doc_id = pos.doc_id AND cov.p = pos.i - 1
      WHERE cov.p IS NULL),
    agg AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS kept_tokens,
                   string_agg(tk, ' ' ORDER BY i) AS cleaned_text
            FROM keptt GROUP BY doc_id)
    SELECT m.doc_id,
           CAST(m.n AS BIGINT) AS n_tokens,
           coalesce(agg.kept_tokens, 0) AS kept_tokens,
           coalesce(agg.cleaned_text, '') AS cleaned_text
    FROM meta m LEFT JOIN agg ON m.doc_id = agg.doc_id
    """,
)
def span_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-dedup APPLY (``dedup.remove_duplicated_spans``): the transform
    whose audit twin is ``duplicated_span_extents`` — every token covered
    by a corpus-duplicated 10-token window is dropped (declared DROP-ALL
    policy: order-free where Lee et al.'s keep-one needs a global
    occurrence ordering) and the surviving tokens are re-joined into
    the cleaned text. The corpus body never shuffles: digests shuffle for
    the occurrence count, then only (id, ss, se) intervals move back to the
    data and a single filter-with-index/exists HOF pass keeps the uncovered
    tokens. The oracle replays coverage as an unnested position anti-join +
    ordered string_agg (note merged-vs-unmerged spans cover identical
    position sets, so the oracle can skip the island merge)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(
        docs, "text", "doc_id", window_tokens=10, max_occurrences=1
    )


@query(
    "pmi_collocations_top20",
    oracle=r"""
    WITH tok AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM tok),
    uni2 AS (SELECT w FROM uni WHERE w <> ''),
    uc AS (SELECT w, count(*) AS n_w FROM uni2 GROUP BY w),
    tt AS (SELECT count(*) AS t_total FROM uni2),
    pairs AS (
      SELECT t[i] AS a, t[i + 1] AS b
      FROM tok, unnest(generate_series(1, len(t) - 1)) AS g(i)),
    pc AS (SELECT a, b, count(*) AS n_pair FROM pairs GROUP BY a, b
           HAVING count(*) >= 5),
    bt AS (SELECT count(*) AS b_total FROM pairs)
    SELECT a, b, n_pair,
           round(ln((n_pair / b_total)
                    / ((ua.n_w / t_total) * (ub.n_w / t_total))), 6) AS pmi
    FROM pc
    JOIN uc ua ON ua.w = pc.a
    JOIN uc ub ON ub.w = pc.b, tt, bt
    ORDER BY pmi DESC, a ASC, b ASC LIMIT 20
    """,
)
def pmi_collocations_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (``text.pmi_collocations``): top-20 adjacent
    token pairs by pointwise mutual information — the word2vec-style phrase
    detector. Frequency top-20 (``bigram_merge_candidates``) surfaces glue
    words; PMI surfaces pairs *bound* to each other. Two counting shuffles;
    the vocabulary-sized unigram table broadcasts into both lookups; the
    log argument's multiply/divide shape is mirrored verbatim in the oracle
    for bit-stable rounded doubles."""
    docs = _t(spark, sf_dir, "documents")
    return text.pmi_collocations(docs, "text", "doc_id", min_count=5, top_k=20)


@query(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), TIMESTAMP '1999-01-01') AS recency_days,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT monetary,
             ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
      FROM rfm)
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(sum(CAST(monetary AS DECIMAL(30,4))) AS DOUBLE) / count(*)
             AS avg_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: quartile scores for recency / frequency /
    monetary over purchasing customers (``ntile(4)`` with a custkey
    tiebreak → fully deterministic bucket assignment), rolled up to segment
    sizes + average spend. The fact scan aggregates to one row per customer
    BEFORE any window — the global ntile sorts the customer dim, never the
    fact table. At warehouse scale the exact global quartile is the
    documented cost (single-partition sort of ~|customers| 3-column rows);
    the bounded-memory twin is bucketing against broadcast
    ``percentile_approx`` cutoffs, traded away here so the oracle can pin
    exact quartile semantics."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.datediff(F.lit("1999-01-01"), F.max("o_orderdate")).alias("recency_days"),
        F.count("*").alias("frequency"),
        _dsum(F.col("o_totalprice")).alias("monetary"),
    )
    scored = rfm.select(
        "monetary",
        # cast long: DuckDB ntile is BIGINT — keep the oracle types aligned
        # (the event_seasonality_heatmap r11 discipline)
        F.ntile(4)
        .over(Window.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc()))
        .cast("long")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc()))
        .cast("long")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc()))
        .cast("long")
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        (_dsum(F.col("monetary")) / F.count("*")).alias("avg_monetary"),
    )


@query(
    "approx_percentile_gate",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           round(quantile_cont(value, 0.95), 6) AS p95_exact,
           TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory quantile sketch with a driver-visible accuracy gate
    (the ``hll_mergeable_rollup`` pattern for quantiles): exact grouped
    p50/p95 (hash-matched by the oracle) alongside ``percentile_approx``
    at accuracy 10000, gated on RANK error — the guarantee the GK sketch
    actually makes (the returned value's rank within ±ε of the target;
    value-space tolerance is meaningless where the tail is sparse). The
    gate recomputes each approx value's true rank with exact integer
    counts (``count(v < a)/n ≤ q + ε`` and ``count(v ≤ a)/n ≥ q − ε``,
    ε = 0.005 ≫ the sketch's 1/accuracy), so the booleans are
    deterministic at every SF; a drifting sketch flips them and fails the
    hash. Two passes by construction (the rank audit needs the sketch
    output); both are partial-agg'd shuffles on (event_type) and the
    second carries only the 5-row sketch table as a broadcast."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.expr("percentile(value, 0.5D)").alias("__e50"),
        F.expr("percentile(value, 0.95D)").alias("__e95"),
        F.percentile_approx("value", 0.5, 10000).alias("__a50"),
        F.percentile_approx("value", 0.95, 10000).alias("__a95"),
    )
    ranks = (
        ev.join(F.broadcast(agg.select("event_type", "__a50", "__a95")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") < F.col("__a50")).cast("long")).alias("__lt50"),
            F.sum((F.col("value") <= F.col("__a50")).cast("long")).alias("__le50"),
            F.sum((F.col("value") < F.col("__a95")).cast("long")).alias("__lt95"),
            F.sum((F.col("value") <= F.col("__a95")).cast("long")).alias("__le95"),
        )
    )
    eps = 0.005

    def rank_ok(lt, le, q):
        n = F.col("n_events")
        return (F.col(lt) / n <= q + eps) & (F.col(le) / n >= q - eps)

    return agg.join(ranks, "event_type").select(
        "event_type",
        "n_events",
        F.round("__e50", 6).alias("p50_exact"),
        F.round("__e95", 6).alias("p95_exact"),
        rank_ok("__lt50", "__le50", 0.5).alias("p50_rank_ok"),
        rank_ok("__lt95", "__le95", 0.95).alias("p95_rank_ok"),
    )


@query(
    "key_skew_profile",
    oracle="""
    WITH kc AS (SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY l_suppkey),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys FROM kc)
    SELECT key, n,
           round(n * 1.0 / total, 6) AS share,
           round(n * n_keys * 1.0 / total, 4) AS skew_ratio
    FROM kc, tot
    ORDER BY n DESC, key ASC LIMIT 20
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis: the 20 heaviest join/agg keys with their
    frequency share and skew ratio (observed count ÷ uniform expectation) —
    the audit run BEFORE choosing a salting factor or trusting AQE's
    skew-join split (``salted_fact_join`` is the remediation this measures
    for). One partial-agg'd count shuffle carrying (key, count); scalar
    totals broadcast; top-20 is TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    kc = li.groupBy(F.col("l_suppkey").alias("key")).agg(F.count("*").alias("n"))
    tot = kc.groupBy().agg(
        F.sum("n").cast("long").alias("__total"), F.count("*").alias("__n_keys")
    )
    return (
        kc.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("share"),
            F.round(F.col("n") * F.col("__n_keys") / F.col("__total"), 4).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(20)
    )


@query(
    "source_mixture_weights",
    oracle=r"""
    WITH st AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS k FROM st)
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / total, 6) AS token_share,
           round(least(total * 1.0 / (k * n_tokens), 3.0), 6) AS mixture_weight
    FROM st, tot
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source token shares and the
    sampling weight that moves the mix toward uniform-over-sources
    (``weight = target_share / observed_share``, capped at 3.0 so a tiny
    source is never oversampled into memorization) — the table a data-mix
    sweep feeds into the sampler. One partial-agg'd count shuffle over
    (source); scalar totals broadcast. The weights multiply per-document
    sampling probabilities downstream (``sampling.rebalance_quota`` is the
    hard-cap sibling)."""
    docs = _t(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(packing.whitespace_token_count(F.col("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    tot = st.groupBy().agg(
        F.sum("n_tokens").cast("long").alias("__total"), F.count("*").alias("__k")
    )
    return st.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__total"), 6).alias("token_share"),
        F.round(
            F.least(
                F.col("__total") / (F.col("__k") * F.col("n_tokens")), F.lit(3.0)
            ),
            6,
        ).alias("mixture_weight"),
    )


@query(
    "mixture_temperature_weights",
    oracle=r"""
    WITH st AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    sq AS (SELECT source, n_docs, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS q
           FROM st),
    tot AS (SELECT sum(CAST(round(q, 6) AS DECIMAL(30,6))) AS qsum,
                   CAST(sum(n_tokens) AS BIGINT) AS total
            FROM sq)
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / total, 6) AS raw_share,
           round(CAST(round(q, 6) AS DECIMAL(30,6))
                 / CAST(qsum AS DOUBLE), 6) AS t2_share,
           round((CAST(round(q, 6) AS DECIMAL(30,6)) / CAST(qsum AS DOUBLE))
                 * total / n_tokens, 6) AS epochs_at_budget
    FROM sq CROSS JOIN tot
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled sampling mix (the multilingual-LM recipe: sample
    source s with probability ∝ n_s^(1/T); T=2 here, the common
    upweight-the-tail setting) — the smooth sibling of
    ``source_mixture_weights``'s capped uniform-target rule. T=2 makes the
    only transcendental a SQRT (IEEE correctly-rounded, so bit-identical
    in any engine — a fractional ``pow`` would not be); the sqrt is
    rounded at 6 and decimal-summed so the normalizing constant is exact
    and partial-agg-order-proof. Output per source: the raw token share,
    the T=2 share, and ``epochs_at_budget`` = how many passes over the
    source one full-corpus-sized token budget implies (>1 on small
    sources = the oversampling the temperature buys; the number an
    operator checks against memorization limits before training). One
    partial-agg'd count shuffle; scalar totals broadcast."""
    docs = _t(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(packing.whitespace_token_count(F.col("text"))).cast("long").alias(
            "n_tokens"
        ),
    )
    sq = st.withColumn(
        "__q", F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(
            "decimal(30,6)"
        )
    )
    tot = sq.groupBy().agg(
        F.sum("__q").alias("__qsum"),
        F.sum("n_tokens").cast("long").alias("__total"),
    )
    return sq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__total"), 6).alias("raw_share"),
        F.round(F.col("__q") / F.col("__qsum").cast("double"), 6).alias("t2_share"),
        F.round(
            (F.col("__q") / F.col("__qsum").cast("double"))
            * F.col("__total")
            / F.col("n_tokens"),
            6,
        ).alias("epochs_at_budget"),
    )


@query(
    "order_price_jackknife_se",
    oracle="""
    WITH st AS (
      SELECT o_orderpriority, o_orderkey % 10 AS j,
             sum(CAST(o_totalprice AS DECIMAL(30,4))) AS sj,
             count(*) AS nj
      FROM orders GROUP BY 1, 2),
    tot AS (
      SELECT o_orderpriority, sum(sj) AS stot, sum(nj) AS ntot,
             count(*) AS jn
      FROM st GROUP BY 1),
    loo AS (
      SELECT st.o_orderpriority,
             CAST(round(CAST(tot.stot - st.sj AS DOUBLE)
                        / (tot.ntot - st.nj), 12) AS DECIMAL(30,12)) AS theta_j
      FROM st JOIN tot USING (o_orderpriority)),
    bar AS (
      SELECT o_orderpriority,
             CAST(sum(theta_j) AS DOUBLE) / count(*) AS tbar
      FROM loo GROUP BY 1),
    dev AS (
      SELECT loo.o_orderpriority,
             CAST(round((CAST(theta_j AS DOUBLE) - tbar)
                        * (CAST(theta_j AS DOUBLE) - tbar), 12)
                  AS DECIMAL(30,12)) AS d2
      FROM loo JOIN bar USING (o_orderpriority))
    SELECT tot.o_orderpriority, CAST(tot.ntot AS BIGINT) AS n_orders,
           CAST(tot.jn AS BIGINT) AS n_strata,
           round(CAST(tot.stot AS DOUBLE) / tot.ntot, 6) AS mean_price,
           round(sqrt(CAST(sum(dev.d2) AS DOUBLE)
                      * (tot.jn - 1) / tot.jn), 6) AS jack_se
    FROM dev JOIN tot USING (o_orderpriority)
    GROUP BY tot.o_orderpriority, tot.ntot, tot.jn, tot.stot
    """,
)
def order_price_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-ONE-STRATUM JACKKNIFE standard error of mean order price per
    priority — the third classic resampling method next to the Poisson
    bootstrap (``order_price_bootstrap_ci``) and split-conformal
    (``conformal_value_intervals``), and the one production metric
    pipelines actually use for ratio metrics (delete-a-group jackknife:
    what BigQuery/Trino A/B stacks compute because it needs ONE pass over
    group partials, no per-replicate resample). Strata are o_orderkey
    mod 10; θ₍ⱼ₎ = (S−Sⱼ)/(N−Nⱼ) from exact decimal partials, and
    SE² = (J−1)/J · Σ (θ₍ⱼ₎−θ̄)² with each squared deviation
    round-12 → decimal(30,12) before the sum — partial-agg order can't
    move a digit (the house discipline). sqrt is correctly-rounded IEEE,
    so engine-portable. Scale shape: ONE grouped pass over orders builds
    the (priority × 10) stratum partials; everything after runs on ≤ 50
    rows. Output: (priority, n_orders, n_strata, mean_price, jack_se)."""
    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice")
    st = o.groupBy(
        "o_orderpriority", (F.col("o_orderkey") % 10).alias("__j")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("__sj"),
        F.count("*").alias("__nj"),
    )
    tot = st.groupBy("o_orderpriority").agg(
        F.sum("__sj").alias("__stot"),
        F.sum("__nj").alias("__ntot"),
        F.count("*").alias("__jn"),
    )
    loo = st.join(F.broadcast(tot), "o_orderpriority").select(
        "o_orderpriority",
        "__stot", "__ntot", "__jn",
        F.round(
            (F.col("__stot") - F.col("__sj")).cast("double")
            / (F.col("__ntot") - F.col("__nj")),
            12,
        ).cast("decimal(30,12)").alias("__theta"),
    )
    bar = loo.groupBy("o_orderpriority").agg(
        (F.sum("__theta").cast("double") / F.count("*")).alias("__tbar")
    )
    dev = loo.join(F.broadcast(bar), "o_orderpriority").select(
        "o_orderpriority", "__stot", "__ntot", "__jn",
        F.round(
            (F.col("__theta").cast("double") - F.col("__tbar"))
            * (F.col("__theta").cast("double") - F.col("__tbar")),
            12,
        ).cast("decimal(30,12)").alias("__d2"),
    )
    return dev.groupBy("o_orderpriority", "__stot", "__ntot", "__jn").agg(
        F.sum("__d2").alias("__ssd")
    ).select(
        "o_orderpriority",
        F.col("__ntot").cast("long").alias("n_orders"),
        F.col("__jn").cast("long").alias("n_strata"),
        F.round(F.col("__stot").cast("double") / F.col("__ntot"), 6).alias("mean_price"),
        F.round(
            F.sqrt(
                F.col("__ssd").cast("double") * (F.col("__jn") - 1) / F.col("__jn")
            ),
            6,
        ).alias("jack_se"),
    )


@query(
    "order_price_bootstrap_ci",
    oracle="""
    WITH reps AS (
      SELECT o.o_orderpriority, o.o_totalprice, g.rep,
             CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':'
                                     || CAST(g.rep AS VARCHAR)), 1, 8)
                  AS BIGINT) % 1000000 AS u
      FROM orders o CROSS JOIN
           (SELECT unnest(generate_series(0, 63)) AS rep) g),
    wtd AS (
      SELECT o_orderpriority, rep, o_totalprice,
             CASE WHEN u < 367879 THEN 0
                  WHEN u < 735759 THEN 1
                  WHEN u < 919699 THEN 2
                  WHEN u < 981012 THEN 3
                  WHEN u < 996340 THEN 4
                  ELSE 5 END AS w
      FROM reps),
    per AS MATERIALIZED (
      SELECT o_orderpriority, rep,
             round(CAST(sum(CAST(w * o_totalprice AS DECIMAL(30,4)))
                        AS DOUBLE) / sum(w), 4) AS mean_r
      FROM wtd GROUP BY 1, 2),
    rk AS (
      SELECT o_orderpriority, rep, mean_r,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY mean_r ASC, rep ASC) AS rn
      FROM per),
    est AS (
      SELECT o_orderpriority, count(*) AS n_orders,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
                   / count(*), 4) AS est_mean
      FROM orders GROUP BY 1)
    SELECT e.o_orderpriority, e.n_orders, e.est_mean,
           lo.mean_r AS ci_lo, hi.mean_r AS ci_hi,
           round(hi.mean_r - lo.mean_r, 4) AS ci_width
    FROM est e
    JOIN rk lo ON lo.o_orderpriority = e.o_orderpriority AND lo.rn = 2
    JOIN rk hi ON hi.o_orderpriority = e.o_orderpriority AND hi.rn = 63
    """,
)
def order_price_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON-BOOTSTRAP confidence intervals for a grouped KPI
    (``sampling.poisson_bootstrap_weights`` — per-row independent
    Poisson(1) resample weights, the bootstrap that distributes: no global
    n, no per-replicate shuffle of the fact table, just ``b``× exploded
    (key, metric) rows partial-agg'd into per-replica means). Weights are
    fully deterministic — a 32-bit md5 hash of "orderkey:rep" against
    FIXED integer CDF thresholds (no runtime exp/rng; tail truncated at
    w=5, P≈0.37%), so the oracle replays every replicate exactly. Per
    priority: the point estimate and the [2nd, 63rd] order statistics of
    the 64 replica means (≈ a 95% percentile CI; replica means rounded at
    4 BEFORE ranking with rep-id tie-break, so the order statistics are
    engine-stable). This is the error bar an eval pipeline attaches to
    every benchmark metric before calling a data intervention a win."""
    orders = _t(spark, sf_dir, "orders")
    wtd = sampling.poisson_bootstrap_weights(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderkey",
        b=64,
    )
    from pyspark.sql import Window

    per = wtd.groupBy("o_orderpriority", "rep").agg(
        F.round(
            F.sum((F.col("w") * F.col("o_totalprice")).cast("decimal(30,4)")).cast(
                "double"
            )
            / F.sum("w"),
            4,
        ).alias("mean_r")
    )
    rw = Window.partitionBy("o_orderpriority").orderBy(
        F.col("mean_r").asc(), F.col("rep").asc()
    )
    rk = per.withColumn("rn", F.row_number().over(rw))
    est = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")) / F.count("*"), 4).alias("est_mean"),
    )
    lo = rk.filter(F.col("rn") == 2).select(
        "o_orderpriority", F.col("mean_r").alias("ci_lo")
    )
    hi = rk.filter(F.col("rn") == 63).select(
        "o_orderpriority", F.col("mean_r").alias("ci_hi")
    )
    return (
        est.join(lo, "o_orderpriority")
        .join(hi, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            "est_mean",
            "ci_lo",
            "ci_hi",
            F.round(F.col("ci_hi") - F.col("ci_lo"), 4).alias("ci_width"),
        )
    )


@query(
    "stream_stream_left_join",
    oracle="""
    SELECT p.event_id AS p_event_id, c.event_id AS c_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '5 minutes' AND c.ts < p.ts
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the attribution query where
    unmatched purchases must still emit (with null click) once the
    watermark proves no qualifying click can arrive. The state-eviction
    semantics ``stream_stream_join`` (inner) never exercises: outer rows
    materialize only when the watermark passes the purchase's join window,
    driven here by the no-data micro-batch after the bounded source drains.
    Green iff the emitted pairs equal the batch LEFT JOIN. (Shared builder:
    ``_stream_pair_join``; full-outer and semi twins alongside.)"""
    return _stream_pair_join(
        spark, sf_dir, "left_outer", ("p_event_id", "c_event_id")
    )

def _build_pair_join(s1: DataFrame, s2: DataFrame, how: str, select_cols) -> DataFrame:
    """The stream-stream join family's TRANSFORMATION, hoisted so the plan
    invariant can probe it over batch inputs (VERDICT_r05 #5): purchases
    joined to same-user clicks in the 5-minute window before the purchase,
    over the bounded first-week feed (the week filter sits after the
    watermark node so late-January events still advance the watermark past
    every bounded purchase — see ``stream_stream_left_join``)."""
    p = (
        s1.filter(F.col("ts") < "2024-01-08")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        s2.filter(F.col("ts") < "2024-01-08")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts"))
    )
    return p.join(c, cond, how).select(*select_cols)


def _stream_pair_join(spark: SparkSession, sf_dir: str, how: str, select_cols):
    """Replay harness around ``_build_pair_join``: two independent
    watermarked file streams over the same events table."""
    import os

    from ..streaming import replay_events_pair

    return replay_events_pair(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda s1, s2: _build_pair_join(s1, s2, how, select_cols),
        query_name=f"stream_{how}_join_mem",
        output_mode="append",
    )


@query(
    "stream_stream_full_join",
    oracle="""
    SELECT p.event_id AS p_event_id, c.event_id AS c_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click' AND ts < TIMESTAMP '2024-01-08') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL '5 minutes' AND c.ts < p.ts
    """,
)
def stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the family (inner / left /
    semi): BOTH unmatched sides emit with nulls once the watermark proves
    no counterpart can arrive, so state eviction fires on the click side
    too (clicks with no following same-user purchase inside 5 minutes).
    Green iff the emitted pairs equal the batch FULL JOIN."""
    return _stream_pair_join(
        spark, sf_dir, "full_outer", ("p_event_id", "c_event_id")
    )


@query(
    "stream_stream_semi_join",
    oracle="""
    SELECT p.event_id AS p_event_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08') p
    WHERE EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'click' AND c.ts < TIMESTAMP '2024-01-08'
        AND c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL '5 minutes' AND c.ts < p.ts)
    """,
)
def stream_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: purchases with at least one qualifying
    click, emitted exactly once however many clicks matched — the
    streaming EXISTS. Distinct state discipline from the outer joins: a
    matched left row emits immediately and its duplicates-suppression is
    the join's own bookkeeping, not a downstream dropDuplicates."""
    return _stream_pair_join(spark, sf_dir, "left_semi", ("p_event_id",))


# Events with each user's 30-minute-gap session number `run`.
_SESSION_RUNS_CTES = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    runs AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS run
      FROM flagged)"""


def _session_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events with ``run``, each user's session number under a
    30-minute gap: the builder side of ``_SESSION_RUNS_CTES``."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # fractional-second gap, matching the oracle's epoch() (ADVICE r5 —
    # see sessionization)
    gap = F.col("ts").cast("timestamp").cast("double") - F.lag("ts").over(w).cast(
        "timestamp"
    ).cast("double")
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    )
    return flagged.withColumn(
        "run", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


@query(
    "session_overlap_pairs",
    oracle=_SESSION_RUNS_CTES
    + """,
    sessions AS (
      SELECT user_id, user_id * 1000000 + run AS sid, min(ts) AS s, max(ts) AS e
      FROM runs GROUP BY user_id, run),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b
      FROM sessions a JOIN sessions b
        ON a.sid < b.sid AND a.user_id <> b.user_id
       AND a.s <= b.e AND b.s <= a.e)
    SELECT user_a, user_b, count(*) AS n_overlaps
    FROM pairs GROUP BY user_a, user_b
    ORDER BY n_overlaps DESC, user_a ASC, user_b ASC LIMIT 50
    """,
)
def session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-interval overlap join (``joins.interval_overlap_pairs``):
    sessionize each user (lag-gap + cumsum runs), then find cross-user
    pairs of sessions whose time intervals intersect — the concurrency
    analysis (who is online together) no built-in Spark join expresses.
    The operator explodes intervals to hour buckets and equi-joins on the
    bucket — blocking, not a nested loop — then exact-verifies the overlap
    predicate on the deduped candidates; the oracle is the plain
    non-equi join. Top-50 co-occurring user pairs with a total-order
    tiebreak."""
    runs = _session_runs(spark, sf_dir)
    sessions = runs.groupBy("user_id", "run").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    ).select(
        "user_id",
        (F.col("user_id") * 1000000 + F.col("run")).alias("sid"),
        "s",
        "e",
    )
    pairs = joins.interval_overlap_pairs(sessions, "sid", "s", "e", bucket_seconds=3600)
    ua = (F.col("id_a") / 1000000).cast("long")
    ub = (F.col("id_b") / 1000000).cast("long")
    return (
        pairs.select(ua.alias("user_a"), ub.alias("user_b"))
        .filter(F.col("user_a") != F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_overlaps"))
        .orderBy(F.col("n_overlaps").desc(), F.col("user_a").asc(), F.col("user_b").asc())
        .limit(50)
    )


@query(
    "event_value_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type, count(*) AS n,
           round(min(d.med), 6) AS median_value,
           round(min(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def event_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median absolute deviation per event type
    (median/MAD shrug off the contamination that inflates mean/stddev —
    the robust twin of ``event_value_anomalies``'s rolling z-score), with
    outliers flagged beyond 3 scaled MADs (1.4826 ≈ Φ⁻¹ consistency
    constant). Two exact-percentile passes by construction (MAD is a
    median OF deviations FROM a median); each is a per-group sort, and the
    5-row median tables broadcast back onto the fact scan. Counts are
    exact integers; med/MAD rounded at 6."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * 1.4826 * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


@query(
    "daily_new_users_cume",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
    daily AS (SELECT d, count(*) AS n_new FROM first_seen GROUP BY d)
    SELECT strftime(d, '%Y-%m-%d') AS day, n_new,
           CAST(sum(n_new) OVER (ORDER BY d ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cume_users
    FROM daily
    """,
)
def daily_new_users_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: first-seen day per user → daily new-user counts →
    running cumulative registered users. The canonical "distinct users to
    date" series, which a naive per-day ``count(DISTINCT)`` recomputes
    quadratically — first-seen + cumsum does it in two partial-agg'd
    shuffles plus a window over the tiny daily table (single-partition,
    |days| rows). Day formatted as a string for engine-neutral output."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first_seen.groupBy("d").agg(F.count("*").alias("n_new"))
    w = Window.orderBy(F.col("d").asc()).rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_new",
        F.sum("n_new").over(w).cast("long").alias("cume_users"),
    )


@query(
    "revenue_pareto_deciles",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS revenue
      FROM orders GROUP BY o_custkey),
    dec AS (
      SELECT revenue,
             ntile(10) OVER (ORDER BY revenue DESC, o_custkey ASC) AS decile
      FROM cr),
    agg AS (
      SELECT decile, count(*) AS n_customers,
             CAST(sum(CAST(revenue AS DECIMAL(30,4))) AS DOUBLE) AS decile_revenue
      FROM dec GROUP BY decile),
    tot AS (SELECT CAST(sum(CAST(revenue AS DECIMAL(30,4))) AS DOUBLE) AS total FROM cr)
    SELECT decile, n_customers,
           round(decile_revenue, 2) AS decile_revenue,
           round(decile_revenue / total, 6) AS revenue_share,
           round(sum(decile_revenue) OVER (ORDER BY decile ASC ROWS UNBOUNDED PRECEDING)
                 / total, 6) AS cume_share
    FROM agg, tot
    """,
)
def revenue_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration analysis: customers ranked into revenue deciles
    (``ntile(10)``, custkey tiebreak), each decile's share and the running
    cumulative share — the "top 10% of customers drive X% of revenue"
    report. The fact table aggregates to the customer dim before the
    global window (same discipline as ``rfm_segments``); the decile rollup
    and cumulative window then run over 10 rows. Decimal sums throughout;
    shares rounded at 6."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(_dsum(F.col("o_totalprice")).alias("revenue"))
    dec = cr.select(
        "revenue",
        # cast long: DuckDB ntile is BIGINT (oracle type alignment)
        F.ntile(10)
        .over(Window.orderBy(F.col("revenue").desc(), F.col("o_custkey").asc()))
        .cast("long")
        .alias("decile"),
    )
    agg = dec.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        _dsum(F.col("revenue")).alias("decile_revenue"),
    )
    tot = cr.groupBy().agg(_dsum(F.col("revenue")).alias("__total"))
    w = Window.orderBy(F.col("decile").asc()).rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round("decile_revenue", 2).alias("decile_revenue"),
            F.round(F.col("decile_revenue") / F.col("__total"), 6).alias(
                "revenue_share"
            ),
            F.round(
                F.sum("decile_revenue").over(w) / F.col("__total"), 6
            ).alias("cume_share"),
        )
    )


@query(
    "stream_hourly_users",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           count(DISTINCT user_id) AS n_users
    FROM events WHERE ts < TIMESTAMP '2024-01-29' GROUP BY 1
    """,
)
def stream_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count: users per hour via CHAINED stateful
    operators — ``dropDuplicates`` on (user, window) bounded by the
    watermark, then a windowed count — the standard streaming workaround
    for ``count(DISTINCT)`` being unsupported in aggregations. Exercises
    multi-stateful-operator pipelines (Spark ≥3.5 requirement: window
    column, not raw event time, in the downstream group). Append mode is
    mandatory for chained stateful ops, so tail windows the final
    watermark never passes would be withheld — the query bounds data to
    Jan 29 AFTER the watermark node, letting the unbounded tail drive the
    watermark past every bounded window (same discipline as the
    stream-stream joins). Green iff equal to the batch exact distinct
    count over the same bound."""
    import os

    from ..streaming import replay_events

    return replay_events(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        _build_hourly_users,
        query_name="stream_hourly_users_mem",
        output_mode="append",
    )


def _build_hourly_users(s: DataFrame) -> DataFrame:
    """stream_hourly_users' transformation (hoisted for the batch-twin plan
    probe): window-keyed dedup chained into a windowed count."""
    dedup = (
        s.filter(F.col("ts") < "2024-01-29")
        .select(F.window("ts", "1 hour").alias("win"), "user_id")
        .dropDuplicates(["win", "user_id"])
    )
    return (
        dedup.groupBy("win")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n_users",
        )
    )


@query(
    "quality_isotonic_calibration",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, lang, n_chars,
             round(len(string_split_regex(trim(text), '\s+')) * 1.0
                   / greatest(length(text), 1), 6) AS score
      FROM documents),
    binned AS (
      SELECT lang, n_chars,
             ntile(10) OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC) AS bin
      FROM q),
    b AS (
      SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS n,
             CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS h
      FROM binned GROUP BY lang, bin),
    p AS (
      SELECT lang, bin, n, h,
             sum(n) OVER w AS pn, sum(h) OVER w AS ph
      FROM b WINDOW w AS (PARTITION BY lang ORDER BY bin ASC ROWS UNBOUNDED PRECEDING)),
    pairs AS (
      SELECT a.lang AS lang, a.bin AS j, c.bin AS k,
             (c.ph - a.ph + a.h) * 1.0 / (c.pn - a.pn + a.n) AS avg_jk
      FROM p a JOIN p c ON a.lang = c.lang AND a.bin <= c.bin),
    mins AS (
      SELECT pr.lang AS lang, pr.j AS j, i.bin AS i, min(pr.avg_jk) AS m
      FROM pairs pr JOIN b i ON i.lang = pr.lang AND pr.j <= i.bin AND pr.k >= i.bin
      GROUP BY pr.lang, pr.j, i.bin)
    SELECT b.lang AS lang, b.bin AS bin, b.n AS n, b.h AS h,
           b.h * 1.0 / b.n AS y_raw,
           max(m2.m) AS y_fit
    FROM mins m2 JOIN b ON b.lang = m2.lang AND b.bin = m2.i
    GROUP BY b.lang, b.bin, b.n, b.h
    """,
)
def quality_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic score calibration (``calibrate.isotonic_fit``): per-language
    score deciles -> hit rate (docs >= 300 chars) -> PAVA-pooled monotone
    curve, the classifier-calibration step before a quality score gates a
    corpus. The genuinely sequential algorithm in the library, run through
    ``applyInPandas`` on bins-per-group rows (the corpus-sized work stays in
    the upstream binning agg); the oracle replays the fit EXACTLY via the
    minimax identity ``fit_i = max_{j<=i} min_{k>=i} avg(y[j..k])`` —
    integer cross-multiplied violation checks and single int/int divisions
    make the doubles bit-identical."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    score = F.round(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        / F.greatest(F.length("text"), F.lit(1)),
        6,
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").asc(), F.col("doc_id").asc())
    binned = docs.select(
        "lang", "n_chars", score.alias("score"), "doc_id"
    ).select("lang", "n_chars", F.ntile(10).over(w).cast("long").alias("bin"))
    b = binned.groupBy("lang", "bin").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0)).cast("long").alias("h"),
    )
    return calibrate.isotonic_fit(b, "lang", "bin", "h", "n").select(
        "lang", "bin", "n", "h", "y_raw", "y_fit"
    )


@query(
    "similarity_topk_pandas",
    oracle=_EXACT_COSINE_TOP10_SQL,
)
def similarity_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar ``pandas_udf`` tier of the UDF policy, oracle-gated: the
    numpy Arrow-batched cosine twin of ``similarity_topk`` against the
    SAME exact-SQL oracle. Proves the sanctioned Python escape hatch
    reproduces the Catalyst fold at reporting precision (scores differ by
    ulps from SIMD partial-sum order — see the operator docstring — which
    round-5 absorbs)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    out = similarity.cosine_topk_pandas(q, emb, k=10)
    return out.select(
        "query_id", "neighbor_id", (F.round("cos", 5) + F.lit(0.0)).alias("cos")
    )


@query(
    "embedding_label_dispersion",
    oracle="""
    WITH pos AS (
      SELECT label, vec_id, g.i AS pos, CAST(embedding[g.i] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)),
    meanvec AS (
      SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos),
    mnorm AS (
      SELECT label, sqrt(sum(m * m)) AS norm_of_mean FROM meanvec GROUP BY label),
    vnorm AS (
      SELECT label, vec_id, sqrt(sum(v * v)) AS nrm FROM pos GROUP BY label, vec_id),
    avnorm AS (
      SELECT label, count(*) AS n_vectors, avg(nrm) AS mean_norm FROM vnorm GROUP BY label)
    SELECT a.label AS label, a.n_vectors,
           round(m.norm_of_mean / a.mean_norm, 6) AS dispersion
    FROM avnorm a JOIN mnorm m USING (label)
    """,
)
def embedding_label_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding concentration (mean resultant length ``R =
    ‖mean(v)‖ / mean(‖v‖)``) via the GROUPED_AGG ``pandas_udf`` tier
    (``similarity.label_dispersion``) — the label-coherence audit a
    classification corpus runs before training (labels whose vectors
    scatter are noise candidates). The UDF sorts the complete group by
    vec_id before reducing, so float sums are shuffle-order-independent;
    the oracle replays R with per-position averages (summation order
    differs by ulps, absorbed at round-6)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_dispersion(emb).select(
        "label", "n_vectors", "dispersion"
    )


_CDC_LAST_STATE_ORACLE = """
    WITH s AS (
      SELECT user_id, event_type, value, ts
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) = 1
    )
    SELECT user_id, event_type AS last_op, value AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS updated_at
    FROM s WHERE event_type <> 'error'
    """


@query("cdc_last_state", oracle=_CDC_LAST_STATE_ORACLE)
def cdc_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (``timeseries.last_state``): the event feed read
    as a change stream per user — last-write-wins on (ts, event_id), and a
    key whose FINAL operation is the tombstone ('error' modeled as DELETE)
    drops out of the state entirely. The compaction pass a CDC mirror runs;
    output is |keys| rows, one shuffle (grouped top-1 window)."""
    ev = _t(spark, sf_dir, "events")
    out = timeseries.last_state(
        ev, ("user_id",), ("ts", "event_id"), op_col="event_type", delete_op="error"
    )
    return out.select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.col("value").alias("last_value"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("updated_at"),
    )


@query(
    "weighted_sample_docs",
    oracle="""
    SELECT doc_id, n_chars,
           round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 0.5) / 4294967296.0) / n_chars, 9) AS samp_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) + 0.5) / 4294967296.0) / n_chars DESC,
             doc_id ASC
    LIMIT 100
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (``sampling.weighted_sample``, Efraimidis–Spirakis A-ES): 100 documents
    drawn with probability proportional to length (``n_chars``), keys from
    the portable md5 uniform — identical sample on every engine/run/retry.
    Physical plan is a projection + ``TakeOrderedAndProject`` (per-partition
    top-k heaps, no global sort)."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.weighted_sample(docs, "n_chars", "doc_id", 100)
    return out.select("doc_id", "n_chars", F.round("samp_key", 9).alias("samp_key"))


@query(
    "ewma_daily_revenue",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1),
    wl AS (
      SELECT d, rev,
             list(rev) OVER (ORDER BY d ASC
                             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS xs
      FROM daily)
    SELECT strftime(d, '%Y-%m-%d') AS d, round(rev, 2) AS daily_rev,
           round(
             list_sum(list_transform(
               list_zip(xs, generate_series(len(xs) - 1, 0, -1)),
               p -> p[1] * pow(0.8, p[2])))
             / ((1 - pow(0.8, len(xs))) / 0.2), 4) AS ewma_30d
    FROM wl
    """,
)
def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-horizon EWMA (``timeseries.ewma_finite``, α=0.2, 30-day
    horizon) over daily revenue — the smoothed trend line every ops
    dashboard draws. Aggregate-before-window (window state is |days|, not
    |orders|), decimal daily sums, then a fixed-order fold of the trailing
    frame normalized by realized weight mass (unbiased from day one).
    Output rounded at 4: ``pow`` may differ in the last ulp across libm
    implementations (operator docstring)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        _dsum(F.col("o_totalprice")).alias("rev")
    )
    out = timeseries.ewma_finite(daily, "rev", "d", alpha=0.2, window=30)
    return out.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.round("rev", 2).alias("daily_rev"),
        F.round("ewma", 4).alias("ewma_30d"),
    )


@query(
    "semantic_dedup_pairs",
    oracle=_KMEANS_LLOYD1_CTES
    + """,
    a2 AS (SELECT vec_id, cid FROM dt
           QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) = 1)
    SELECT id_a, id_b, round(cos, 5) + 0.0 AS cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      FROM e a JOIN a2 ca ON a.vec_id = ca.vec_id
      JOIN a2 cb ON cb.cid = ca.cid
      JOIN e b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
    ) WHERE cos >= 0.4
    """,
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: one Lloyd iteration of k-means blocks
    the corpus into 8 cells (``similarity.kmeans_lloyd`` — broadcast assign,
    ≤k×dim centroid shuffle), then exact cosine pairs ≥ 0.4 are enumerated
    WITHIN cells only (``embedding_neardup_pairs(block_col="cid")`` — an
    equi-join on the cell id, never the all-pairs nested loop). The oracle
    replays the full Lloyd iteration + intra-cell pair join in SQL, so the
    green row certifies the clustering AND the blocked pair semantics.
    Recall caveat (documented, inherent to SemDeDup): pairs straddling a
    cell boundary are not candidates; the exact twin ``cosine_neardups``
    bounds the loss."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = similarity.kmeans_lloyd(emb, k=8, iters=1, dim=_PQ_DIM)
    blocked = emb.join(assigned.select("vec_id", "cid"), "vec_id")
    out = similarity.embedding_neardup_pairs(blocked, min_cos=0.4, block_col="cid")
    return out.select(
        "id_a", "id_b", (F.round("cos", 5) + F.lit(0.0)).alias("cos")
    )


@query(
    "heavy_hitter_tokens",
    oracle=r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      FROM documents),
    ex AS (SELECT token, count(*) AS n FROM toks WHERE token <> '' GROUP BY token)
    SELECT token, n, TRUE AS in_sketch
    FROM ex ORDER BY n DESC, token ASC LIMIT 20
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters with a driver-visible recall gate (the
    ``approx_percentile_gate`` pattern for frequency sketches): a
    Misra–Gries-style candidate pass (``sketch.heavy_hitter_candidates``,
    80 counters, Arrow-batched, map-only — only ~counters summary rows per
    batch reach the exchange), then one exact recount ranks the true top-20
    (hash-matched by the oracle) and flags each against the candidate set.
    The sketch guarantees recall for every value with count > N/81; the
    corpus top-20 sit far above that bar at every SF, so ``in_sketch`` is
    deterministically TRUE — a sketch that dropped a heavy hitter flips the
    bit and fails the hash."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    cand = sketch.heavy_hitter_candidates(toks, "token", counters=80)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )
    return top.join(
        F.broadcast(cand.select(F.col("value").alias("token"), F.lit(True).alias("__hit"))),
        "token",
        "left",
    ).select("token", "n", F.coalesce("__hit", F.lit(False)).alias("in_sketch"))


@query("stream_cdc_last_state", oracle=_CDC_LAST_STATE_ORACLE)
def stream_cdc_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cdc_last_state``: the event feed replayed through
    a real streaming query into ``streaming.stateful_last_state``
    (``applyInPandasWithState`` — one tiny state row per key, last-write-wins
    on (event time, id), tombstones retained in state so late stragglers
    can't resurrect a deleted key). The reader-side filter drops tombstoned
    keys, exactly like a compacted-topic consumer. Green iff the streaming
    materialization equals the batch CDC oracle."""
    from ..streaming import replay_events, stateful_last_state

    out = replay_events(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: stateful_last_state(s),
        query_name="stream_cdc_mem",
        output_mode="update",
    )
    return out.filter(F.col("last_op") != "error").select(
        "user_id",
        "last_op",
        "last_value",
        F.date_format(
            F.timestamp_micros(F.col("ts_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("updated_at"),
    )


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE), 2) AS total,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events GROUP BY event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (``agg.combine_rollups``): the corpus is
    split at a cutoff into 'yesterday's materialized rollup' and 'today's
    delta', each aggregated independently, then MERGED — counts/decimal sums
    re-add, maxes re-extremize — instead of recomputed. The oracle is the
    full single-pass aggregate, so the green row certifies merge-equals-
    recompute, the property that lets a 100 TB daily pipeline aggregate only
    the new partition. Decimal partials make the merge bit-exact no matter
    where history is cut."""
    ev = _t(spark, sf_dir, "events")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).alias("total_d"),
            F.max("ts").alias("max_ts"),
        )

    cutoff = "2024-01-20"
    from ..operators import agg as agg_ops

    merged = agg_ops.combine_rollups(
        [
            rollup(ev.filter(F.col("ts") < cutoff)),
            rollup(ev.filter(F.col("ts") >= cutoff)),
        ],
        ("event_type",),
        sum_cols=("n", "total_d"),
        max_cols=("max_ts",),
    )
    return merged.select(
        "event_type",
        "n",
        F.round(F.col("total_d").cast("double"), 2).alias("total"),
        F.date_format("max_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@query(
    "bucketed_join_revenue",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈dim join via write-time bucketing
    (``sources.io.write_bucketed_table``): both sides land pre-hashed into 8
    bucket files on the join key, so the sort-merge join reads co-located
    buckets with NO exchange on either side (plan-pinned in
    ``tests/unit/test_bucketing.py``; the ``merge`` hint keeps the question
    honest by disabling the broadcast fallback). This is SCALE.md's
    fact⋈fact strategy: at 100 TB the bucket layout is written once and
    every subsequent join/aggregation on the key is shuffle-free."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    from ..sources.io import write_bucketed_table

    write_bucketed_table(o, "q_bkt_orders", ("o_custkey",), 8, mode="overwrite")
    write_bucketed_table(c, "q_bkt_customer", ("c_custkey",), 8, mode="overwrite")
    ob = spark.table("q_bkt_orders")
    cb = spark.table("q_bkt_customer")
    joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("total"),
    )


@query(
    "seasonal_hour_outliers",
    oracle="""
    WITH base AS (
      SELECT event_type, extract(hour FROM ts) AS hr, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE) AS s2
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT e.event_id, e.event_type, CAST(b.hr AS INTEGER) AS hr, e.value,
             (e.value - b.s1 / b.n)
             / sqrt(greatest((b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1), 1e-300)) AS z
      FROM events e
      JOIN base b ON e.event_type = b.event_type
                 AND extract(hour FROM e.ts) = b.hr
      WHERE b.n >= 5)
    SELECT event_id, event_type, hr, value, round(z, 4) AS z
    FROM scored
    ORDER BY abs(z) DESC, event_id ASC
    LIMIT 20
    """,
)
def seasonal_hour_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly report: each event scored against the
    mean/std of its OWN (event_type, hour-of-day) cell — the diurnal
    baseline a monitoring pipeline uses so a nightly batch spike isn't
    flagged just for being nightly. Exact decimal moment sums per cell
    (shuffle carries ≤ |types|×24 rows after partial agg), baselines
    broadcast back onto the stream, top-20 by |z| (never-vacuous fixed-size
    output; a threshold query at small SF returns 0 rows and proves
    nothing). Variance floored at 1e-300 to keep the division ANSI-safe;
    rank order is |z| desc with event_id as total-order tiebreak."""
    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(30,6)"))
        .cast("double")
        .alias("s2"),
    )
    nn = F.col("n").cast("double")
    scored = (
        ev.withColumn("hr", F.hour("ts"))
        .join(F.broadcast(base), ["event_type", "hr"])
        .filter(F.col("n") >= 5)
        .select(
            "event_id",
            "event_type",
            "hr",
            "value",
            (
                (F.col("value") - F.col("s1") / nn)
                / F.sqrt(
                    F.greatest(
                        (F.col("s2") - F.col("s1") * F.col("s1") / nn)
                        / (nn - F.lit(1.0)),
                        F.lit(1e-300),
                    )
                )
            ).alias("z"),
        )
    )
    return (
        scored.orderBy(F.abs(F.col("z")).desc(), F.col("event_id").asc())
        .limit(20)
        .select("event_id", "event_type", "hr", "value", F.round("z", 4).alias("z"))
    )


@query(
    "pit_join_event_state",
    oracle="""
    WITH e AS (SELECT * FROM events WHERE event_type <> 'purchase'),
    r AS (
      SELECT user_id, ts, event_type, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    r2 AS (
      SELECT user_id, ts, event_type,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM r),
    iv AS MATERIALIZED (SELECT user_id, run, min(event_type) AS state, min(ts) AS vf
           FROM r2 GROUP BY 1, 2),
    p AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    mx AS (
      SELECT p.event_id, max(iv.vf) AS best_vf
      FROM p LEFT JOIN iv ON iv.user_id = p.user_id AND iv.vf <= p.ts
      GROUP BY 1),
    m AS (
      SELECT p.event_id, p.value, max(iv.state) AS state
      FROM p
      LEFT JOIN mx ON mx.event_id = p.event_id
      LEFT JOIN iv ON iv.user_id = p.user_id AND iv.vf = mx.best_vf
      GROUP BY 1, 2)
    SELECT coalesce(state, 'none') AS state, count(*) AS n_purchases,
           round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_value
    FROM m GROUP BY 1
    """,
)
def pit_join_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join to an SCD2 dimension: each purchase joined to the
    user-state interval VALID AT ITS EVENT TIME — the dimension version
    history (``timeseries.change_intervals`` over the non-purchase feed)
    probed with the as-of composition (intervals tile time per key, so
    'latest valid_from ≤ ts' IS interval containment, no between-join
    needed). Purchases before any interval get state 'none' (left as-of).
    The temporal-correctness join every warehouse needs and Spark lacks
    natively; one shuffle on user_id for each side."""
    ev = _t(spark, sf_dir, "events")
    dim = timeseries.change_intervals(
        ev.filter(F.col("event_type") != "purchase"),
        ("user_id",),
        "ts",
        "event_type",
        tiebreak="event_id",
    ).select("user_id", F.col("valid_from").alias("vf"), F.col("event_type").alias("state"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    pit = joins.asof_join(
        purchases,
        dim,
        on="user_id",
        left_time="ts",
        right_time="vf",
        direction="backward",
        left_id="event_id",
        tiebreak="state",
    )
    return pit.groupBy(
        F.coalesce(F.col("r.state"), F.lit("none")).alias("state")
    ).agg(
        F.count("*").alias("n_purchases"),
        F.round(_dsum(F.col("l.value")), 2).alias("total_value"),
    )


@query(
    "split_leakage_audit",
    oracle=_SHINGLE_SIZES_CTES
    + """,
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT id_a, id_b FROM pairs
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.5
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 10000 < 9000 THEN 'train'
                  WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT a.split AS split_a, b.split AS split_b, count(*) AS n_pairs
    FROM jp JOIN sp a ON jp.id_a = a.doc_id JOIN sp b ON jp.id_b = b.doc_id
    GROUP BY 1, 2
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: near-dup pairs (exact 3-shingle Jaccard ≥
    0.5) classified by which hash-splits their two documents landed in — the
    off-diagonal cells (train×test) are contamination the split itself can't
    prevent, because hash splitting is per-document while near-dups are
    cross-document. The audit every LLM data pipeline runs between dedup and
    training; composition of ``dedup.ngram_jaccard_pairs`` (shingle-blocked
    equi-join) + ``sampling.hash_split`` (pure projection), two label joins,
    one tiny groupBy."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, min_jaccard=0.5)
    splits = sampling.hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    a = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    b = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "embedding_centroid_drift",
    oracle="""
    WITH s AS (
      SELECT label, CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
             vec_id, embedding
      FROM embeddings),
    pos AS (
      SELECT label, snap, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos
      FROM s),
    mu AS (
      SELECT label, snap, pos,
             CAST(sum(CAST(val AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
      FROM pos GROUP BY 1, 2, 3),
    cent AS (SELECT label, snap, list(m ORDER BY pos) AS c FROM mu GROUP BY 1, 2),
    cnt AS (SELECT label, snap, count(*) AS n FROM s GROUP BY 1, 2)
    SELECT a.label AS label, ca.n AS n_a, cb.n AS n_b,
           round(list_sum(list_transform(list_zip(a.c, b.c), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(a.c, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.c, x -> x * x)))), 6) + 0.0
             AS drift_cos
    FROM cent a
    JOIN cent b ON a.label = b.label AND a.snap = 'a' AND b.snap = 'b'
    JOIN cnt ca ON ca.label = a.label AND ca.snap = 'a'
    JOIN cnt cb ON cb.label = a.label AND cb.snap = 'b'
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift audit between corpus snapshots: per-label centroids of
    snapshot A (even ids) vs snapshot B (odd ids), compared by cosine — the
    check that a re-embedded or re-crawled corpus still means the same thing
    per class (drift_cos ≪ 1 flags an embedding-space shift). Centroid means
    accumulate in decimal(30,12) per (label, snapshot, position) — exact
    regardless of partial-agg order, ≤ |labels|×2×dim rows after map-side
    combine — then one tiny join and a codegen cosine fold."""
    emb = _t(spark, sf_dir, "embeddings")
    snap = emb.withColumn(
        "snap", F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b")
    )
    ex = snap.select("label", "snap", F.posexplode("embedding").alias("pos", "val"))
    mu = ex.groupBy("label", "snap", "pos").agg(
        (F.sum(F.col("val").cast("decimal(30,12)")).cast("double") / F.count("*")).alias("m")
    )
    cent = mu.groupBy("label", "snap").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    cnt = snap.groupBy("label", "snap").agg(F.count("*").alias("n"))
    a = cent.filter(F.col("snap") == "a").select("label", F.col("c").alias("ca"))
    b = cent.filter(F.col("snap") == "b").select("label", F.col("c").alias("cb"))
    na = cnt.filter(F.col("snap") == "a").select("label", F.col("n").alias("n_a"))
    nb = cnt.filter(F.col("snap") == "b").select("label", F.col("n").alias("n_b"))
    drift = (
        similarity.dot("ca", "cb")
        / (similarity.l2_norm("ca") * similarity.l2_norm("cb"))
    )
    return (
        a.join(b, "label")
        .join(na, "label")
        .join(nb, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            (F.round(drift, 6) + F.lit(0.0)).alias("drift_cos"),
        )
    )


@query(
    "last_touch_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, event_id,
                 CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 50
                      THEN 'high' ELSE 'low' END AS channel
          FROM events WHERE event_type = 'click'),
    m AS (
      SELECT p.event_id, c.channel, p.value,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC NULLS LAST,
                                         c.event_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT coalesce(channel, 'none') AS channel, count(*) AS n_conversions,
           round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_value
    FROM m WHERE rn = 1 GROUP BY 1
    """,
)
def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credited to the channel of the
    user's most recent preceding click (channel banded from the click's JSON
    props — explicit schema, never inferred), 'none' when no click precedes.
    The composition a marketing pipeline runs daily: as-of join (backward,
    deterministic tiebreak) + semi-structured extraction + grouped revenue
    rollup."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.from_json("props", "k INT")["k"] >= 50, "high")
        .otherwise("low")
        .alias("channel"),
    )
    touched = joins.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        direction="backward",
        left_id="event_id",
        tiebreak="event_id",
    )
    return touched.groupBy(
        F.coalesce(F.col("r.channel"), F.lit("none")).alias("channel")
    ).agg(
        F.count("*").alias("n_conversions"),
        F.round(_dsum(F.col("l.value")), 2).alias("total_value"),
    )


# Lowercased whitespace tokens `tk`, the 90/10 doc-hash train/test split
# `sp` (sampling.hash_split) and every nonempty bigram (a, b) with its
# document's split, `bg`.
_BIGRAM_SPLIT_CTES = r"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      FROM documents),
    sp AS (
      SELECT doc_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 10000 < 9000
                  THEN 'train' ELSE 'test' END AS split
      FROM documents),
    bg AS (
      SELECT tk.doc_id, sp.split, w[i] AS a, w[i+1] AS b
      FROM tk JOIN sp USING (doc_id),
           unnest(generate_series(1, len(w) - 1)) AS g(i)
      WHERE len(w) >= 2 AND w[i] <> '' AND w[i+1] <> '')"""


def _bigram_train_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The bigram LM inputs of ``_BIGRAM_SPLIT_CTES``: every bigram with its
    document's split, the train counts c12 per (a, b) and c1 per a, and the
    train vocabulary size."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("w")
    )
    n = F.size("w")
    bg = (
        toks.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("w", 1, n - 1).alias("a"),
                    F.slice("w", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != ""))
    )
    split = sampling.hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.9, "test": 0.1}
    )
    bg = bg.join(split, "doc_id")
    train = bg.filter(F.col("split") == "train")
    c12 = train.groupBy("a", "b").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("a").agg(F.sum("c12").alias("c1"))
    vocab = (
        toks.join(split, "doc_id")
        .filter(F.col("split") == "train")
        .select(F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    return bg, c12, c1, vocab


@query(
    "bigram_heldout_logprob",
    oracle=_BIGRAM_SPLIT_CTES
    + """,
    c12 AS (SELECT a, b, count(*) AS c FROM bg WHERE split = 'train' GROUP BY 1, 2),
    c1 AS (SELECT a, sum(c) AS c FROM c12 GROUP BY 1),
    v AS (
      SELECT count(DISTINCT tok) AS vocab FROM (
        SELECT unnest(w) AS tok FROM tk JOIN sp USING (doc_id)
        WHERE sp.split = 'train')
      WHERE tok <> '')
    SELECT t.doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln((coalesce(c12.c, 0) + 1) * 1.0
                                         / (coalesce(c1.c, 0) + v.vocab)), 12)
                              AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS avg_neg_logprob
    FROM (SELECT * FROM bg WHERE split = 'test') t
    LEFT JOIN c12 ON t.a = c12.a AND t.b = c12.b
    LEFT JOIN c1 ON t.a = c1.a
    CROSS JOIN v
    GROUP BY t.doc_id
    """,
)
def bigram_heldout_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation — the eval loop of a data pipeline done
    leakage-free: an add-one-smoothed bigram LM fitted ONLY on the hash-split
    train docs (the same split documents train on, so eval never sees
    training text), scored as mean −ln P(b|a) per test document. Bigrams are
    pure array expressions (``arrays_zip`` of two slices — no window, no
    extra shuffle); the model is two token-keyed grouped counts; scoring
    joins carry (a, b) pairs, never documents. −ln p values are rounded then
    decimal-summed so the per-doc mean is partial-agg-order independent."""
    bg, c12, c1, vocab = _bigram_train_counts(spark, sf_dir)
    test = bg.filter(F.col("split") == "test")
    neg_ln = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + 1)
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vocab"))
    )
    return (
        test.join(c12, ["a", "b"], "left")
        .join(c1, "a", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.round(neg_ln, 12).cast("decimal(30,12)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


@query(
    "bigram_kneser_ney_heldout",
    oracle=_BIGRAM_SPLIT_CTES
    + """,
    c12 AS MATERIALIZED (
      SELECT a, b, count(*) AS c FROM bg WHERE split = 'train' GROUP BY 1, 2),
    c1 AS (SELECT a, sum(c) AS c FROM c12 GROUP BY 1),
    n1pa AS (SELECT a, count(*) AS n FROM c12 GROUP BY 1),
    n1pb AS (SELECT b, count(*) AS n FROM c12 GROUP BY 1),
    tt AS (SELECT count(*) AS types FROM c12),
    v AS (
      SELECT count(DISTINCT tok) AS vocab FROM (
        SELECT unnest(w) AS tok FROM tk JOIN sp USING (doc_id)
        WHERE sp.split = 'train')
      WHERE tok <> '')
    SELECT t.doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(-ln(
             CASE WHEN c1.c IS NOT NULL THEN
               greatest(coalesce(c12.c, 0) - 0.75, 0) / c1.c
               + 0.75 * n1pa.n / c1.c
                 * ((coalesce(n1pb.n, 0) + 1) * 1.0 / (tt.types + v.vocab + 1))
             ELSE (coalesce(n1pb.n, 0) + 1) * 1.0 / (tt.types + v.vocab + 1)
             END), 12) AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS avg_neg_logprob
    FROM (SELECT * FROM bg WHERE split = 'test') t
    LEFT JOIN c12 ON t.a = c12.a AND t.b = c12.b
    LEFT JOIN c1 ON t.a = c1.a
    LEFT JOIN n1pa ON t.a = n1pa.a
    LEFT JOIN n1pb ON t.b = n1pb.b
    CROSS JOIN tt CROSS JOIN v
    GROUP BY t.doc_id
    """,
)
def bigram_kneser_ney_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram LM on the same leakage-free hash
    split as ``bigram_heldout_logprob`` (its add-one sibling — KN is what
    a real LM-based quality filter ships): absolute discount D = 0.75
    (exact in binary), continuation probability from bigram-TYPE counts
    (p_cont(b) ∝ distinct left-contexts of b), back-off mass D·N1+(a,·)/c(a),
    and a deterministic floor — the continuation distribution is add-one
    smoothed over (types + vocab + 1) so unseen contexts AND unseen words
    stay finite without any tuned epsilon. p_KN =
    max(c(ab)−D,0)/c(a) + D·N1+(a,·)/c(a)·p_cont(b) for seen contexts,
    p_cont(b) alone for unseen. Everything derives from four grouped
    integer counts (pair counts, left-marginals, left/right type counts) —
    two token-keyed shuffles total; scoring joins carry (a, b) pairs,
    never documents. −ln p rounded-then-decimal-summed per doc (the
    sibling's partial-agg-order discipline). KN beats add-one on mean
    held-out −ln p, as it should — the pair of queries is the
    smoothing-ablation table for an LM quality gate."""
    bg, c12, c1, vocab = _bigram_train_counts(spark, sf_dir)
    n1pa = c12.groupBy("a").agg(F.count("*").alias("n1pa"))
    n1pb = c12.groupBy("b").agg(F.count("*").alias("n1pb"))
    tt = c12.agg(F.count("*").alias("types"))
    test = bg.filter(F.col("split") == "test")
    pcont = (F.coalesce(F.col("n1pb"), F.lit(0)) + 1) * F.lit(1.0) / (
        F.col("types") + F.col("vocab") + 1
    )
    p_kn = F.when(
        F.col("c1").isNotNull(),
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - 0.75, F.lit(0.0))
        / F.col("c1")
        + F.lit(0.75) * F.col("n1pa") / F.col("c1") * pcont,
    ).otherwise(pcont)
    return (
        test.join(c12, ["a", "b"], "left")
        .join(c1, "a", "left")
        .join(n1pa, "a", "left")
        .join(n1pb, "b", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(F.round(-F.log(p_kn), 12).cast("decimal(30,12)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


@query(
    "session_path_trigrams",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END
               AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
    r2 AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS run
      FROM flagged),
    p AS (
      SELECT event_type AS t0,
             lead(event_type, 1) OVER w2 AS t1,
             lead(event_type, 2) OVER w2 AS t2
      FROM r2
      WINDOW w2 AS (PARTITION BY user_id, run ORDER BY ts ASC, event_id ASC))
    SELECT t0 || '>' || t1 || '>' || t2 AS path, count(*) AS n
    FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20
    """,
)
def session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern mining lite: the top-20 three-event paths users take
    WITHIN a session (30-min gap sessionization — paths must not span the
    overnight break, or 'view>purchase' yesterday→today reads as one
    journey). One shuffle on user_id serves both the session assignment and
    the lead windows (same partitioning, Catalyst reuses the sort); the
    trigram paths are three columns of the same window pass, then a tiny
    grouped count and deterministic top-k."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0),
    ).withColumn(
        "run",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w2 = Window.partitionBy("user_id", "run").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    paths = flagged.select(
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w2).alias("t1"),
        F.lead("event_type", 2).over(w2).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    counts = paths.groupBy(
        F.concat_ws(">", "t0", "t1", "t2").alias("path")
    ).agg(F.count("*").alias("n"))
    return rank.top_k(counts, "n", order="desc", k=20, tiebreak=("path",))


@query(
    "trimmed_mean_event_values",
    oracle="""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.1) AS p10,
             quantile_cont(value, 0.9) AS p90
      FROM events GROUP BY 1)
    SELECT e.event_type, count(*) AS n_total,
           round(CAST(sum(CAST(e.value AS DECIMAL(30,6))) AS DOUBLE)
                 / count(*), 6) AS mean_all,
           CAST(sum(CASE WHEN e.value >= b.p10 AND e.value <= b.p90
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(sum(CASE WHEN e.value >= b.p10 AND e.value <= b.p90
                              THEN CAST(e.value AS DECIMAL(30,6)) END) AS DOUBLE)
                 / sum(CASE WHEN e.value >= b.p10 AND e.value <= b.p90
                            THEN 1 ELSE 0 END), 6) AS mean_trimmed
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
)
def trimmed_mean_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust grouped statistics: the 10–90% trimmed mean per event type
    alongside the raw mean — the report that survives a corrupted feed
    spraying outliers. Two passes (exact percentile bounds, then the
    conditional decimal aggregate with the 5-row bounds broadcast back);
    trimming bounds are exact sort-based percentiles so both engines agree
    on interpolation (same contract as ``event_value_percentiles``)."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.1D)").alias("p10"),
        F.expr("percentile(value, 0.9D)").alias("p90"),
    )
    kept = (F.col("value") >= F.col("p10")) & (F.col("value") <= F.col("p90"))
    return (
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_all"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.round(
                F.sum(F.when(kept, F.col("value").cast("decimal(30,6)"))).cast(
                    "double"
                )
                / F.sum(kept.cast("long")),
                6,
            ).alias("mean_trimmed"),
        )
    )


_EPOCH_TOTALS_ORACLE = """
    SELECT event_type, count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE), 2) AS total
    FROM events GROUP BY event_type
    """


@query("stream_exactly_once_totals", oracle=_EPOCH_TOTALS_ORACLE)
def stream_exactly_once_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming SINK semantics, driver-gated
    (``streaming.run_exactly_once_parquet``): the event stream lands in a
    plain-parquet layout via ``foreachBatch`` + per-epoch dynamic partition
    overwrite + ``Trigger.AvailableNow`` — a retried epoch overwrites its
    own ``__epoch`` partition instead of appending duplicates, and the sink
    is run TWICE against the same checkpoint (the second run must be a
    committed-offset no-op) before the written rows are aggregated. Green
    iff the doubly-run sink still equals the batch aggregate: duplication
    from either retry path would break the counts."""
    import os
    import shutil

    from ..streaming import run_exactly_once_parquet
    from ..streaming.windows import stream_from_parquet_dir

    src = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, src)
    out = _run_tmp(spark, "eos_out", sf_dir)
    ckpt = _run_tmp(spark, "eos_ckpt", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def _stream() -> DataFrame:
        return stream_from_parquet_dir(
            spark, os.path.dirname(src), schema, glob_filter=os.path.basename(src)
        ).select("event_id", "event_type", "value")

    run_exactly_once_parquet(_stream(), out, ckpt, query_name="eos_totals_1")
    # second run, same checkpoint: offsets are committed -> must write nothing
    run_exactly_once_parquet(_stream(), out, ckpt, query_name="eos_totals_2")
    back = read_parquet(spark, out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(_dsum(F.col("value")), 2).alias("total"),
    )


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, u, v): every two distinct parts u < v bought in order ok."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    return a.join(b, "ok").filter(F.col("u") < F.col("v"))


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase graph: part pairs (u < v) bought together in at
    least 2 orders."""
    return (
        _copurchase_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("u", "v")
    )


@query(
    "stream_cc_maintenance",
    oracle=r"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS (SELECT a.pk AS u, b.pk AS v
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT u AS s, v AS d FROM e0 UNION SELECT v, u FROM e0),
    reach AS (SELECT s, d FROM edges
              UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    lab AS (SELECT s AS node, least(s, min(d)) AS comp FROM reach GROUP BY s)
    SELECT CAST(comp AS BIGINT) AS component_id, count(*) AS n_nodes
    FROM lab GROUP BY 1
    """,
)
def stream_cc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING graph maintenance, driver-gated (VERDICT_r09 "Next round"
    #6): connected-component labels of the co-purchase graph maintained
    INCREMENTALLY over a real edge stream — the ≥2-co-occurrence edge
    table is landed as three single-file parquet batches (deterministic
    (u+v) mod 3 split), replayed through a file-source stream
    (``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``), and a
    ``foreachBatch`` handler folds each delta into the label state by
    running ``dedup.connected_components`` over (star edges of the
    current labels) ∪ (the new batch): the star contraction preserves
    connectivity of everything processed so far, so per-epoch work is
    |state nodes| + |delta edges| — never a full-history recompute. CC
    is CONFLUENT (the final fixpoint is independent of batch order and
    batching), which is what makes an exact oracle possible: the green
    row certifies stream-maintained labels == batch CC of the full edge
    set (transitive-closure replay, min-id canonical labels). Every node
    that ever streamed stays labeled: a node is its component's min or
    points at it, so the star edges regenerate the whole component each
    epoch. Output: (component_id, n_nodes) per final cluster."""
    import os
    import shutil

    from pyspark.sql import types as T

    from ..session import free_local_checkpoint
    from ..streaming.windows import stream_from_parquet_dir

    # the co-purchase edge table is consumed exactly once now: the single
    # partitioned staging write slices all three batch files in one pass
    # (_stage_stream_batches), so the per-batch localCheckpoint the old
    # 3-filter-write loop needed is gone with the loop
    edges = _copurchase_edges(spark, sf_dir)
    src = _run_tmp(spark, "cc_stream", sf_dir)
    ckpt = _run_tmp(spark, "cc_stream_ckpt", sf_dir)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    os.makedirs(src)
    _stage_stream_batches(edges, (F.col("u") + F.col("v")) % 3, src)
    schema = T.StructType(
        [T.StructField("u", T.LongType()), T.StructField("v", T.LongType())]
    )
    state: dict = {"labels": None}

    def _on_batch(bdf: DataFrame, epoch_id: int) -> None:
        delta = bdf.select("u", "v")
        if state["labels"] is not None:
            star = state["labels"].filter(F.col("id") != F.col("comp")).select(
                F.col("id").alias("u"), F.col("comp").alias("v")
            )
            delta = delta.unionAll(star)
        # CC's return is already backed by its own final localCheckpoint
        # (round-12 hygiene contract) — no second checkpoint on top.
        # dedup_edges=False: the batch edges are distinct with u < v and the
        # star edges distinct with u > v, so the symmetrized union carries
        # (at most) the bounded pair/star overlap — CC labels are identical
        # with or without the dedup exchange (min is idempotent)
        new_labels = dedup.connected_components(delta, "u", "v", dedup_edges=False)
        # free the superseded epoch's label checkpoint the moment the new
        # one is materialized (ADVICE r11 leak class: one block-manager
        # label-table copy per epoch for the life of the stream otherwise)
        if state["labels"] is not None:
            free_local_checkpoint(state["labels"])
        state["labels"] = new_labels

    q = (
        stream_from_parquet_dir(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(_on_batch)
        .queryName("cc_maintenance")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state["labels"].groupBy(
        F.col("comp").cast("long").alias("component_id")
    ).agg(F.count("*").alias("n_nodes"))


@query("stream_pyds_jsonl_totals", oracle=_EPOCH_TOTALS_ORACLE)
def stream_pyds_jsonl_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PYTHON DATASOURCE SINK, driver-gated
    (``sources.datasource.JsonLinesStreamWriter`` — the DataSource-API twin
    of ``stream_exactly_once_totals``'s foreachBatch sink): the event
    stream lands as JSON-lines through the writer's per-EPOCH two-phase
    commit (attempt-unique staging, commit renames only reported attempts
    under the epoch's prefix and REPLACES a retried epoch's earlier files),
    run TWICE against the same checkpoint — the second ``AvailableNow``
    pass must be a committed-offset no-op. Green iff the doubly-run sink's
    files, read back with an explicit schema, still equal the batch
    aggregate: duplication from either retry path breaks the counts."""
    import os
    import shutil

    from pyspark.sql import types as T

    from ..sources.datasource import register_jsonl_writer
    from ..streaming.windows import stream_from_parquet_dir

    register_jsonl_writer(spark)
    src = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, src)
    out = _run_tmp(spark, "pyds_stream", sf_dir)
    ckpt = _run_tmp(spark, "pyds_sckpt", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    def _run(name: str) -> None:
        stream = stream_from_parquet_dir(
            spark, os.path.dirname(src), schema, glob_filter=os.path.basename(src)
        ).select("event_id", "event_type", "value")
        q = (
            stream.writeStream.format("jsonl_py")
            .queryName(name)
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination()

    _run("pyds_jsonl_1")
    _run("pyds_jsonl_2")  # committed offsets -> must add nothing
    back_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(back_schema).json(os.path.join(out, "part-*.jsonl"))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(_dsum(F.col("value")), 2).alias("total"),
    )


@query(
    "basket_item_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    freq AS (SELECT l_partkey, count(*) AS f FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS together
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, together,
           round(together * 1.0 * n.n / (fa.f * fb.f), 6) AS lift
    FROM pairs
    JOIN freq fa ON part_a = fa.l_partkey
    JOIN freq fb ON part_b = fb.l_partkey
    CROSS JOIN n_orders n
    WHERE together >= 2
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def basket_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: part pairs that co-occur in the
    same order, scored by LIFT (observed co-rate over independence), minimum
    support 2 — the recommendation/affinity primitive. The within-basket
    self-join is naturally blocked (pairs only form inside one order, and
    baskets are bounded — ~7 lines for TPC-H-ish orders — so fan-out is
    |order|² on a small |order|); item frequencies broadcast back; the
    order count is the scalar-broadcast pattern. Top-20 by (lift, part_a,
    part_b) for a total order."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    freq = items.groupBy("l_partkey").agg(F.count("*").alias("f"))
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, (a.o == b.o) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("together"))
        .filter(F.col("together") >= 2)
    )
    scored = (
        pairs.join(
            F.broadcast(freq.select(F.col("l_partkey").alias("part_a"), F.col("f").alias("__fa"))),
            "part_a",
        )
        .join(
            F.broadcast(freq.select(F.col("l_partkey").alias("part_b"), F.col("f").alias("__fb"))),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "together",
            F.round(
                F.col("together") * F.col("n") / (F.col("__fa") * F.col("__fb")), 6
            ).alias("lift"),
        )
    )
    return (
        scored.orderBy(
            F.col("lift").desc(), F.col("part_a").asc(), F.col("part_b").asc()
        ).limit(20)
    )


@query(
    "snapshot_diff_counts",
    oracle="""
    WITH old AS (
      SELECT user_id, event_type, count(*) AS n, max(ts) AS latest
      FROM events
      WHERE ts < TIMESTAMP '2024-01-28' AND user_id % 10 <> 3
      GROUP BY 1, 2),
    new AS (
      SELECT user_id, event_type, count(*) AS n, max(ts) AS latest
      FROM events GROUP BY 1, 2)
    SELECT CASE WHEN old.user_id IS NULL THEN 'added'
                WHEN new.n <> old.n OR new.latest <> old.latest THEN 'changed'
                ELSE 'unchanged' END AS change_kind,
           count(*) AS n_keys
    FROM new LEFT JOIN old USING (user_id, event_type)
    GROUP BY 1
    """,
)
def snapshot_diff_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the table-versioning audit: per-(user, type)
    aggregates of an OLD snapshot (a prior cutoff, with one user slice
    simulating since-onboarded accounts) compared with the NEW one, every
    key classified added/changed/unchanged (removals can't occur in an
    append-only feed, and the LEFT join encodes that). All three classes
    are populated at every SF — a single-class report would green without
    exercising the classifier. The shape a data-diff/CDC-validation tool
    runs between pipeline versions: two partial-agg'd scans, one
    key-partitioned join, a 3-row report."""
    ev = _t(spark, sf_dir, "events")

    def snap(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"), F.max("ts").alias("latest")
        )

    old = snap(
        ev.filter((F.col("ts") < "2024-01-28") & (F.col("user_id") % 10 != 3))
    ).select(
        "user_id",
        "event_type",
        F.col("n").alias("__on"),
        F.col("latest").alias("__ol"),
    )
    new = snap(ev)
    kind = (
        F.when(F.col("__on").isNull(), "added")
        .when(
            (F.col("n") != F.col("__on")) | (F.col("latest") != F.col("__ol")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        new.join(old, ["user_id", "event_type"], "left")
        .groupBy(kind.alias("change_kind"))
        .agg(F.count("*").alias("n_keys"))
    )


@query(
    "daily_revenue_acf",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS rev
      FROM orders GROUP BY o_orderdate),
    dev AS (
      SELECT d,
             rev - CAST(sum(CAST(rev AS DECIMAL(38,4))) OVER () AS DOUBLE)
                   / count(*) OVER () AS dev,
             count(*) OVER () AS n
      FROM daily),
    lagged AS (
      SELECT n, CAST(g.k AS INTEGER) AS k,
             round(dev * lag(dev, CAST(g.k AS INTEGER))
                         OVER (PARTITION BY g.k ORDER BY d), 6) AS prod
      FROM dev CROSS JOIN (SELECT unnest(generate_series(0, 14)) AS k) g),
    per_k AS (
      SELECT k, CAST(max(n) AS BIGINT) AS n,
             sum(CAST(prod AS DECIMAL(38,6))) AS s
      FROM lagged WHERE prod IS NOT NULL GROUP BY k),
    withd AS (
      SELECT k, n, s,
             max(CASE WHEN k = 0 THEN s END) OVER () AS denom
      FROM per_k),
    acfs AS (
      SELECT k, n,
             round(CAST(s AS DOUBLE) / CAST(denom AS DOUBLE), 6) AS acf
      FROM withd WHERE k >= 1),
    lb AS (
      SELECT k, n, acf,
             sum(CAST(round(acf * acf / (n - k), 12) AS DECIMAL(38,12)))
               OVER (ORDER BY k) AS qsum
      FROM acfs)
    SELECT k AS lag, acf,
           round(CAST(n AS DOUBLE) * (n + 2) * CAST(qsum AS DOUBLE), 6)
             AS lb_q
    FROM lb
    """,
)
def daily_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags 1–14
    plus the cumulative Ljung–Box portmanteau Q — the stationarity /
    white-noise diagnostic run before trusting ``ewma_daily_revenue`` or
    ``forecast_revenue_change``. Determinism discipline: daily revenues are
    exact 4-dp decimals, deviations come off one shared exact mean, every
    cross-product rounds at 6 dp BEFORE the decimal sum (partial-agg order
    can't move a digit — the ``order_price_psi`` pattern), and Q is a
    decimal cumulative sum of 12-dp contributions computed from the
    already-rounded ACF values both engines share. The fact table
    pre-aggregates to |days| rows before the only unpartitioned window
    (15 lag columns in ONE WindowExec); at warehouse scale the day-grain
    series is tiny — the window never sees the fact table."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        _dsum(F.col("o_totalprice")).alias("rev")
    )
    w0 = Window.partitionBy()
    dev_df = daily.select(
        "d",
        (
            F.col("rev")
            - F.sum(F.col("rev").cast("decimal(38,4)")).over(w0).cast("double")
            / F.count("*").over(w0)
        ).alias("dev"),
        F.count("*").over(w0).alias("n"),
    )
    wd = Window.orderBy("d")
    arr = dev_df.select(
        "n",
        F.array(
            *[
                F.round(F.col("dev") * F.lag("dev", k).over(wd), 6)
                for k in range(15)
            ]
        ).alias("prods"),
    )
    lagged = arr.select("n", F.posexplode("prods").alias("k", "prod")).filter(
        F.col("prod").isNotNull()
    )
    per_k = lagged.groupBy("k").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("prod").cast("decimal(38,6)")).alias("s"),
    )
    withd = per_k.select(
        "k",
        "n",
        "s",
        F.max(F.when(F.col("k") == 0, F.col("s"))).over(w0).alias("denom"),
    )
    acfs = withd.filter(F.col("k") >= 1).select(
        "k",
        "n",
        F.round(
            F.col("s").cast("double") / F.col("denom").cast("double"), 6
        ).alias("acf"),
    )
    wq = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    lb = acfs.select(
        "k",
        "n",
        "acf",
        F.sum(
            F.round(F.col("acf") * F.col("acf") / (F.col("n") - F.col("k")), 12)
            .cast("decimal(38,12)")
        )
        .over(wq)
        .alias("qsum"),
    )
    return lb.select(
        F.col("k").alias("lag"),
        "acf",
        F.round(
            F.col("n").cast("double")
            * (F.col("n") + 2)
            * F.col("qsum").cast("double"),
            6,
        ).alias("lb_q"),
    )


@query(
    "daily_revenue_decomposition",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS d,
             sum(CAST(o_totalprice AS DECIMAL(30,4))) AS rev
      FROM orders GROUP BY 1),
    tr AS (
      SELECT d, CAST(rev AS DOUBLE) AS rev,
             CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w AS trend
      FROM daily
      WINDOW w AS (ORDER BY d ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    de AS (
      SELECT d, rev, trend,
             CAST(round(rev - trend, 6) AS DECIMAL(30,6)) AS detr
      FROM tr),
    se AS (
      SELECT dayofweek(d) AS dow,
             CAST(sum(detr) AS DOUBLE) / count(*) AS seasonal
      FROM de GROUP BY 1)
    SELECT strftime(de.d, '%Y-%m-%d') AS d,
           round(de.rev, 2) AS daily_rev,
           round(de.trend, 4) AS trend,
           round(se.seasonal, 4) AS seasonal,
           round(CAST(de.detr AS DOUBLE) - se.seasonal, 4) AS residual
    FROM de JOIN se ON dayofweek(de.d) = se.dow
    """,
)
def daily_revenue_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition (STL-lite): daily revenue split into
    TREND (centered 7-day moving average), SEASONAL (day-of-week mean of the
    detrended series), and RESIDUAL — the structure a forecasting/anomaly
    pipeline extracts before modeling. Determinism discipline throughout:
    the moving average and the seasonal means aggregate DECIMAL partials
    (sliding-window engines may compute frame sums incrementally with an
    inverse function, which changes double rounding; decimals make the
    strategy irrelevant), detrended values are rounded before re-entering a
    decimal aggregate. Aggregate-before-window: |days| window state, one
    single-partition sort at series scale, per-key variants partition."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("__rev_d")
    )
    w = Window.orderBy(F.col("d").asc()).rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        F.col("__rev_d").cast("double").alias("rev"),
        (F.sum("__rev_d").over(w).cast("double") / F.count("*").over(w)).alias(
            "trend"
        ),
    )
    de = tr.withColumn(
        "__detr", F.round(F.col("rev") - F.col("trend"), 6).cast("decimal(30,6)")
    ).withColumn("__dow", F.dayofweek("d"))
    se = de.groupBy("__dow").agg(
        (F.sum("__detr").cast("double") / F.count("*")).alias("seasonal")
    )
    return (
        de.join(F.broadcast(se), "__dow")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            F.round("rev", 2).alias("daily_rev"),
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("__detr").cast("double") - F.col("seasonal"), 4
            ).alias("residual"),
        )
    )


@query("asof_cogroup_last_click", oracle=_ASOF_LAST_CLICK_ORACLE)
def asof_cogroup_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUP tier of the sanctioned-Python matrix, oracle-gated:
    ``joins.asof_join_cogrouped`` (cogrouped ``applyInPandas`` +
    ``pd.merge_asof`` per key) against the SAME exact-SQL oracle as the
    expression-composed ``asof_purchase_last_click`` — proving the two
    as-of implementations are interchangeable row-for-row (ties resolved by
    the same (ts, event_id) order). The Python path exists for semantics
    Catalyst can't compose (e.g. pandas-style tolerance windows); the
    expression form remains the hot path."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = joins.asof_join_cogrouped(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_cols=("event_id", "value"),
        tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("p_event_id"),
        "user_id",
        F.col("r_event_id").alias("c_event_id"),
        F.col("r_value").alias("c_value"),
    )


@query(
    "stream_python_source_totals",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS user_id, count(*) AS n,
           round(sum(((i * 2654435761) % 1000) / 10.0), 2) AS total
    FROM generate_series(0, 999) AS g(i)
    GROUP BY 1
    """,
)
def stream_python_source_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CUSTOM STREAMING SOURCE via Spark 4's Python DataSource API
    (``sources.datasource.SyntheticEventsDataSource``): the deterministic
    synthetic feed streams through 100-row micro-batches (10 batches of a
    1000-event feed — offsets owned by the source, ``readBetweenOffsets``
    replay = the exactly-once contract; per-batch Python-source RPC makes
    finer batching pure overhead), aggregated per user and checked
    against DuckDB regenerating the same feed from its closed form. Green
    iff every micro-batch arrived exactly once: a dropped or doubled batch
    shifts the per-user counts/sums and fails the hash."""
    from ..sources.datasource import register_synthetic
    from ..streaming.windows import run_stream_to_memory

    register_synthetic(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_total", "1000")
        .option("batch_size", "100")
        .load()
    )
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("value").cast("decimal(30,4)")).cast("double"), 2).alias(
            "total"
        ),
    )
    run_stream_to_memory(agg, "py_source_totals", output_mode="complete")
    return spark.table("py_source_totals")


@query(
    "stream_rest_ingest_audit",
    oracle="""
    SELECT CASE WHEN i % 10 = 3 THEN 'HTTP_404'
                WHEN i % 7 = 0 THEN 'OK'
                WHEN i % 11 = 5 THEN 'TRANSPORT_TimeoutError'
                ELSE 'OK' END AS outcome,
           count(*) AS n_keys
    FROM generate_series(0, 119) AS g(i)
    GROUP BY 1
    """,
)
def stream_rest_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingest job as a CONTINUOUS source
    (``sources.datasource.RestStreamDataSource``): 120 keys page through
    6 micro-batches of the streaming REST source — every key runs the full
    retry state machine (429s retry to success, 404s reject permanently,
    timeouts exhaust retries) — and the envelope outcomes are aggregated
    in-stream. The oracle regenerates the deterministic truth table from
    the key-construction rule, so a dropped page, a double-fetched page, or
    a retry-policy change all fail the hash."""
    from ..sources.datasource import register_rest_stream
    from ..streaming.windows import run_stream_to_memory

    register_rest_stream(spark)
    keys = []
    for i in range(120):
        if i % 10 == 3:
            keys.append(f"m{i}_404")
        elif i % 7 == 0:
            keys.append(f"m{i}_429")
        elif i % 11 == 5:
            keys.append(f"m{i}_timeout")
        else:
            keys.append(f"m{i}")
    stream = (
        spark.readStream.format("tmdb_rest_stream")
        .option("keys", ",".join(keys))
        .option("page_size", "20")
        .load()
    )
    agg = stream.groupBy(
        F.coalesce(F.col("error"), F.lit("OK")).alias("outcome")
    ).agg(F.count("*").alias("n_keys"))
    run_stream_to_memory(agg, "rest_ingest_audit", output_mode="complete")
    return spark.table("rest_ingest_audit")


@query(
    "dq_expectations_orders",
    oracle="""
    SELECT rule, "column", n_violations, n_violations = 0 AS passed FROM (
    SELECT 'not_null' AS rule, 'o_orderkey' AS "column",
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'accepted_values', 'o_orderpriority',
           CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'in_range', 'o_totalprice',
           CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0 OR o_totalprice > 1e9)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'relationship', 'o_custkey',
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    )
    """,
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (``operators/quality.py`` — the
    dbt-test shape, Spark-first): six expectations over orders compiled
    into ONE aggregate scan plus one broadcast anti-join for the
    foreign-key rule. The priority accepted-values rule is DESIGNED to
    fail (the domain has 5 priorities, the rule allows 2) so the violation
    COUNTING path is exercised, not just the all-zeros happy path — a
    vacuous all-pass table would green without proving the counters. The
    oracle recomputes every counter independently; ``passed`` is derived
    in both engines."""
    from ..operators import quality as dq

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    out = dq.expect(
        o,
        [
            dq.not_null("o_orderkey"),
            dq.unique("o_orderkey"),
            dq.accepted_values("o_orderstatus", ("O", "F", "P")),
            dq.accepted_values("o_orderpriority", ("1-URGENT", "2-HIGH")),
            dq.in_range("o_totalprice", 0, 1e9),
            dq.relationship("o_custkey", c, "c_custkey"),
        ],
    )
    return out.select("rule", "column", "n_violations", "passed")


@query(
    "schema_evolution_roundtrip",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT coalesce(o_orderpriority, '<pre-evolution>') AS priority,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2)
             AS total
    FROM unioned GROUP BY 1
    """,
)
def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a path-based parquet layout: an old writer lands
    files WITHOUT ``o_orderpriority``, a new writer lands files WITH it,
    and a ``mergeSchema`` read unions the footers by name — old rows
    surface the evolved column as NULL instead of failing the scan. The
    append-only schema-widening story every long-lived dataset needs
    without a table format. (Default reads use the first footer only —
    ``mergeSchema`` is a per-read opt-in because footer-merging scales with
    file count; table formats move this merge into metadata.)"""
    import os

    o = _t(spark, sf_dir, "orders")
    path = _run_tmp(spark, "evo", sf_dir)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    # epoch 1: pre-evolution writer (no priority column)
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("append").parquet(path)
    # epoch 2: evolved writer adds the column
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count("*").alias("n"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("total"),
    )


@query(
    "language_id_confusion",
    oracle=(
        "WITH preds AS (" + _language_id_oracle() + ") "
        "SELECT lang AS actual, lang_pred AS predicted, count(*) AS n "
        "FROM preds GROUP BY 1, 2"
    ),
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the stopword-voting language ID
    cross-tabulated against the labeled ``lang`` column — the confusion
    matrix an eval pipeline materializes for every heuristic/model gate.
    Tiny grouped count over the prediction projection; the oracle reuses
    the exact generated language-ID SQL so Spark and DuckDB score the SAME
    classifier, not two reimplementations."""
    docs = _t(spark, sf_dir, "documents")
    preds = docs.select("lang", text.language_id("text").alias("lang_pred"))
    return preds.groupBy(
        F.col("lang").alias("actual"), F.col("lang_pred").alias("predicted")
    ).agg(F.count("*").alias("n"))


@query(
    "embedding_truncation_fidelity",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    pairs AS (
      SELECT q.vec_id AS query_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_full,
             list_sum(list_transform(list_zip(q.embedding[1:32], c.embedding[1:32]),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding[1:32], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding[1:32], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_half
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id)
    SELECT query_id, count(*) AS n_pairs,
           round(CAST(sum(CAST(round(abs(cos_full - cos_half), 9)
                              AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS mean_abs_delta
    FROM pairs GROUP BY query_id
    """,
)
def embedding_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: for 20 probe vectors against the
    corpus, how far does cosine computed on the FIRST HALF of the embedding
    drift from full-dimension cosine (mean |Δcos| per probe)? The
    measurement that decides whether a cheaper truncated index is usable.
    Same broadcast-probe shape as ``similarity_topk``; per-pair |Δ| rounds
    into a decimal mean so partial-agg order can't move the reported
    digits."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.slice("embedding", 1, 32).alias("__qh"),
    )
    c = emb.select(
        F.col("vec_id").alias("__cid"),
        F.col("embedding").alias("__cv"),
        F.slice("embedding", 1, 32).alias("__ch"),
    )
    pairs = q.join(F.broadcast(c), F.col("query_id") != F.col("__cid"))
    cos_full = similarity.dot("__qv", "__cv") / (
        similarity.l2_norm("__qv") * similarity.l2_norm("__cv")
    )
    cos_half = similarity.dot("__qh", "__ch") / (
        similarity.l2_norm("__qh") * similarity.l2_norm("__ch")
    )
    delta = F.round(F.abs(cos_full - cos_half), 9).cast("decimal(30,12)")
    return (
        pairs.select("query_id", delta.alias("__d"))
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.sum("__d").cast("double") / F.count("*"), 6).alias(
                "mean_abs_delta"
            ),
        )
    )


@query(
    "ridge_value_model",
    oracle="""
    WITH m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(extract(hour FROM ts) AS DECIMAL(30,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST((dayofweek(ts) + 1) AS DECIMAL(30,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(extract(hour FROM ts) * extract(hour FROM ts) AS DECIMAL(30,6))) AS DOUBLE) AS s11,
             CAST(sum(CAST(extract(hour FROM ts) * (dayofweek(ts) + 1) AS DECIMAL(30,6))) AS DOUBLE) AS s12,
             CAST(sum(CAST((dayofweek(ts) + 1) * (dayofweek(ts) + 1) AS DECIMAL(30,6))) AS DOUBLE) AS s22,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(extract(hour FROM ts) * value AS DECIMAL(30,6))) AS DOUBLE) AS s1y,
             CAST(sum(CAST((dayofweek(ts) + 1) * value AS DECIMAL(30,6))) AS DOUBLE) AS s2y
      FROM events GROUP BY 1),
    c AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS a11, s1 AS a12, s2 AS a13,
             s11 + 1.0 AS a22, s12 AS a23, s22 + 1.0 AS a33,
             sy AS b1, s1y AS b2, s2y AS b3
      FROM m)
    SELECT event_type, n,
           round((b1 * (a22 * a33 - a23 * a23)
                  - a12 * (b2 * a33 - a23 * b3)
                  + a13 * (b2 * a23 - a22 * b3))
                 / (a11 * (a22 * a33 - a23 * a23)
                    - a12 * (a12 * a33 - a23 * a13)
                    + a13 * (a12 * a23 - a22 * a13)), 6) AS b0,
           round((a11 * (b2 * a33 - a23 * b3)
                  - b1 * (a12 * a33 - a23 * a13)
                  + a13 * (a12 * b3 - b2 * a13))
                 / (a11 * (a22 * a33 - a23 * a23)
                    - a12 * (a12 * a33 - a23 * a13)
                    + a13 * (a12 * a23 - a22 * a13)), 6) AS b_hour,
           round((a11 * (a22 * b3 - b2 * a23)
                  - a12 * (a12 * b3 - b2 * a13)
                  + b1 * (a12 * a23 - a22 * a13))
                 / (a11 * (a22 * a33 - a23 * a23)
                    - a12 * (a12 * a33 - a23 * a13)
                    + a13 * (a12 * a23 - a22 * a13)), 6) AS b_dow
    FROM c
    """,
)
def ridge_value_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting in ONE aggregate pass
    (``calibrate.ridge_fit_2``): ridge regression of event value on
    (hour-of-day, day-of-week) per event type, solved in closed form from
    nine decimal moment sums — the shape that fits millions of per-entity
    models in a single shuffle where an ML-library loop fits one at a
    time. λ=1 keeps every group nonsingular; the oracle replays the exact
    Cramer arithmetic from the same exact moments, so coefficients match
    to the rounded digit."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("__h"),
        F.dayofweek("ts").alias("__d"),
        "value",
    )
    out = calibrate.ridge_fit_2(
        ev, ("event_type",), "value", "__h", "__d", lam=1.0
    )
    return out.select(
        "event_type",
        "n",
        F.round("b0", 6).alias("b0"),
        F.round("b1", 6).alias("b_hour"),
        F.round("b2", 6).alias("b_dow"),
    )


@query(
    "conformal_value_intervals",
    oracle="""
    WITH ev AS (
      SELECT event_type, value,
             extract(hour FROM ts) AS h, (dayofweek(ts) + 1) AS d,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 10000 AS bkt
      FROM events),
    sp AS MATERIALIZED (
      SELECT *, CASE WHEN bkt < 6000 THEN 'train'
                     WHEN bkt < 8000 THEN 'calib'
                     ELSE 'test' END AS split
      FROM ev),
    m AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(h AS DECIMAL(30,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(d AS DECIMAL(30,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(h * h AS DECIMAL(30,6))) AS DOUBLE) AS s11,
             CAST(sum(CAST(h * d AS DECIMAL(30,6))) AS DOUBLE) AS s12,
             CAST(sum(CAST(d * d AS DECIMAL(30,6))) AS DOUBLE) AS s22,
             CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(h * value AS DECIMAL(30,6))) AS DOUBLE) AS s1y,
             CAST(sum(CAST(d * value AS DECIMAL(30,6))) AS DOUBLE) AS s2y
      FROM sp WHERE split = 'train' GROUP BY 1),
    c AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS a11, s1 AS a12, s2 AS a13,
             s11 + 1.0 AS a22, s12 AS a23, s22 + 1.0 AS a33,
             sy AS b1, s1y AS b2, s2y AS b3
      FROM m),
    coef AS MATERIALIZED (
      SELECT event_type, n AS n_train,
             round((b1 * (a22 * a33 - a23 * a23)
                    - a12 * (b2 * a33 - a23 * b3)
                    + a13 * (b2 * a23 - a22 * b3))
                   / (a11 * (a22 * a33 - a23 * a23)
                      - a12 * (a12 * a33 - a23 * a13)
                      + a13 * (a12 * a23 - a22 * a13)), 6) AS b0,
             round((a11 * (b2 * a33 - a23 * b3)
                    - b1 * (a12 * a33 - a23 * a13)
                    + a13 * (a12 * b3 - b2 * a13))
                   / (a11 * (a22 * a33 - a23 * a23)
                      - a12 * (a12 * a33 - a23 * a13)
                      + a13 * (a12 * a23 - a22 * a13)), 6) AS bh,
             round((a11 * (a22 * b3 - b2 * a23)
                    - a12 * (a12 * b3 - b2 * a13)
                    + b1 * (a12 * a23 - a22 * a13))
                   / (a11 * (a22 * a33 - a23 * a23)
                      - a12 * (a12 * a33 - a23 * a13)
                      + a13 * (a12 * a23 - a22 * a13)), 6) AS bd
      FROM c),
    cal AS MATERIALIZED (
      SELECT s.event_type,
             abs(s.value - (coef.b0 + coef.bh * s.h + coef.bd * s.d)) AS r,
             s.bkt
      FROM sp s JOIN coef USING (event_type) WHERE s.split = 'calib'),
    ncal AS (SELECT event_type, count(*) AS n_calib FROM cal GROUP BY 1),
    qh AS MATERIALIZED (
      SELECT r.event_type, r.r AS qhat, n.n_calib FROM (
        SELECT event_type, r,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY r ASC, bkt ASC) AS rn
        FROM cal) r
      JOIN ncal n ON n.event_type = r.event_type
      WHERE r.rn = least((9 * (n.n_calib + 1) + 9) // 10, n.n_calib)),
    tst AS (
      SELECT s.event_type,
             abs(s.value - (coef.b0 + coef.bh * s.h + coef.bd * s.d)) AS r
      FROM sp s JOIN coef USING (event_type) WHERE s.split = 'test')
    SELECT coef.event_type, coef.n_train,
           CAST(qh.n_calib AS BIGINT) AS n_calib,
           count(*) AS n_test,
           round(qh.qhat, 6) AS qhat,
           round(sum(CASE WHEN tst.r <= qh.qhat THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS coverage
    FROM tst
    JOIN coef ON coef.event_type = tst.event_type
    JOIN qh ON qh.event_type = tst.event_type
    GROUP BY coef.event_type, coef.n_train, qh.n_calib, qh.qhat
    """,
)
def conformal_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals on the per-type ridge model
    (the distribution-free coverage guarantee an eval pipeline wraps
    around ANY point predictor — the deterministic sibling of
    ``order_price_bootstrap_ci``): hash-split events 60/20/20 into
    train/calib/test, fit ``calibrate.ridge_fit_2`` on TRAIN only, take
    qhat = the ⌈0.9·(n_calib+1)⌉-th smallest absolute calibration residual
    (the finite-sample-corrected conformal quantile, α=0.1 — computed as
    exact integer rank arithmetic, no float quantile; the rank is clamped
    to n_calib, i.e. qhat = max residual, for groups too small for the
    corrected rank to exist, so they stay visible), and report
    empirical coverage of |y − ŷ| ≤ qhat on the held-out TEST split —
    ≈ 0.9 by the conformal guarantee, regardless of how wrong the linear
    model is. Residuals use the ROUNDED (6 dp) coefficients both engines
    already hash-match on (`ridge_value_model`), so every residual is
    bit-identical and the order statistic needs only a bucket tie-break.
    Scale shape: one moments pass (9 decimal sums per type), one
    calib-residual rank per type, one test scan — no per-row model state,
    the same millions-of-models-in-one-shuffle story as the ridge fit."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.hour("ts").alias("__h"),
        F.dayofweek("ts").alias("__d"),
        "value",
    )
    sp = sampling.hash_split(
        ev, "event_id", {"train": 0.6, "calib": 0.2, "test": 0.2}
    ).withColumn("__bkt", sampling.portable_hash("event_id"))
    train = sp.filter(F.col("split") == "train")
    coef = calibrate.ridge_fit_2(
        train, ("event_type",), "value", "__h", "__d", lam=1.0
    ).select(
        "event_type",
        F.col("n").alias("n_train"),
        F.round("b0", 6).alias("__b0"),
        F.round("b1", 6).alias("__bh"),
        F.round("b2", 6).alias("__bd"),
    )
    pred_err = F.abs(
        F.col("value")
        - (F.col("__b0") + F.col("__bh") * F.col("__h") + F.col("__bd") * F.col("__d"))
    )
    cal = (
        sp.filter(F.col("split") == "calib")
        .join(F.broadcast(coef), "event_type")
        .select("event_type", pred_err.alias("__r"), "__bkt")
    )
    ncal = cal.groupBy("event_type").agg(F.count("*").alias("n_calib"))
    from pyspark.sql import Window

    rw = Window.partitionBy("event_type").orderBy(
        F.col("__r").asc(), F.col("__bkt").asc()
    )
    qh = (
        cal.withColumn("__rn", F.row_number().over(rw))
        .join(F.broadcast(ncal), "event_type")
        # clamp the conformal rank to n_calib (qhat = max residual — the
        # standard finite-sample fallback) so event types with n_calib < 9,
        # where ceil(0.9*(n+1)) exceeds n, stay visible instead of being
        # silently dropped by an unmatched rank filter
        .filter(
            F.col("__rn")
            == F.expr("least((9 * (n_calib + 1) + 9) DIV 10, n_calib)")
        )
        .select("event_type", F.col("__r").alias("__qhat"), "n_calib")
    )
    tst = (
        sp.filter(F.col("split") == "test")
        .join(F.broadcast(coef), "event_type")
        .select("event_type", "n_train", pred_err.alias("__r"))
    )
    return (
        tst.join(F.broadcast(qh), "event_type")
        .groupBy("event_type", "n_train", "n_calib", "__qhat")
        .agg(
            F.count("*").alias("n_test"),
            F.round(
                F.sum(F.when(F.col("__r") <= F.col("__qhat"), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("coverage"),
        )
        .select(
            "event_type",
            "n_train",
            F.col("n_calib").cast("long").alias("n_calib"),
            "n_test",
            F.round("__qhat", 6).alias("qhat"),
            "coverage",
        )
    )


@query("stream_minhash_index_maintenance", oracle=_NEARDUP_ORACLE)
def stream_minhash_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-index maintenance, driver-gated — the operational
    shape a 100 TB ingest actually runs: document batches arrive on a real
    file-source stream (3 single-file parquet batches,
    ``maxFilesPerTrigger=1`` + ``Trigger.AvailableNow``) and a
    ``foreachBatch`` handler signs each batch ONCE into the persisted
    minhash band-bucket artifact through the exactly-once sink's dynamic
    partition overwrite of ``__epoch=<id>`` (ADVICE r11: keying the append
    on driver-local state made a replayed epoch — foreachBatch's
    at-least-once contract after a transient failure — append its bucket
    rows twice; the epoch-keyed partition overwrite is idempotent under
    replay — ``write_epoch_overwrite``'s unit-pinned contract — and
    signatures are pure functions of text, so epochs never invalidate each
    other's partitions and no accepted document is ever re-shingled).
    Near-dup pairs are then
    answered FROM the stream-built artifact and checked against the same
    exact-Jaccard oracle as ``minhash_neardups``: the green row certifies
    that an index maintained by a stream equals one built in batch —
    batching, epoch boundaries, and the append path all invisible in the
    result. The streaming sibling of ``minhash_artifact_roundtrip`` (which
    drives the same lifecycle from batch code)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from ..streaming.windows import stream_from_parquet_dir

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = _run_tmp(spark, "mh_stream", sf_dir)
    ckpt = _run_tmp(spark, "mh_stream_ckpt", sf_dir)
    art = _run_tmp(spark, "mh_stream_art", sf_dir)
    for d in (src, ckpt, art):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    _stage_stream_batches(docs, F.col("doc_id") % 3, src)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def _on_batch(bdf: DataFrame, epoch_id: int) -> None:
        if bdf.isEmpty():
            return
        # idempotent epoch write (ADVICE r11): a foreachBatch replay after a
        # transient failure rewrites the same partition instead of appending
        # its rows twice; no driver-local initialized flag to get out of sync
        dedup._write_epoch_buckets(bdf, "text", "doc_id", epoch_id, art)

    q = (
        stream_from_parquet_dir(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(_on_batch)
        .queryName("mh_index_maintenance")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = dedup.minhash_pairs_from_artifact(
        _t(spark, sf_dir, "documents"), "text", "doc_id", art, min_jaccard=0.5
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _minhash_cluster_stream(
    spark: SparkSession,
    docs: DataFrame,
    sf_dir: str,
    tag: str,
    *,
    survivors: bool = False,
) -> dict:
    """Shared foreachBatch epoch protocol behind
    ``stream_minhash_cluster_maintenance`` and (with ``survivors=True``)
    ``stream_keepone_maintenance``: 3 single-file parquet batches arrive on
    a real file-source stream (``maxFilesPerTrigger=1`` +
    ``Trigger.AvailableNow``) and each epoch (1) lands the batch's minhash
    band signatures through the exactly-once sink's dynamic partition
    overwrite of ``__epoch=<id>`` (ADVICE r11: idempotent under
    foreachBatch's at-least-once epoch replay — a replayed epoch rewrites
    the same rows instead of appending them twice), (2) computes the
    INCREMENTAL candidate pairs — the epoch's own bucket PARTITION
    (partition-pruned scan, no semi-join needed) joined against the whole
    artifact, so new×old and new×new only, never a full-history re-pair —
    (3) exact-Jaccard-verifies just those candidates (unverified band
    collisions must not reach CC: clusters can't unmerge), and (4) folds
    the verified pairs into the CC label state via star(labels) ∪ pairs.
    Completeness: every pair (x, y) is emitted in the LATER endpoint's
    epoch; CC is confluent, so stream-maintained clusters == batch CC over
    the full exact-Jaccard pair set.

    With ``survivors=True`` each epoch ALSO folds the SURVIVORSHIP
    decision (the ``neardup_keep_best_quality`` policy — max quality,
    min-id tiebreak — expressed as the MIN-struct semilattice
    ``struct(-quality, id)``): candidate-endpoint quality keys join the
    epoch's new labels (an endpoint not in any fold edge simply drops out
    of the inner join — unverified collisions never contribute a key),
    union with the PREVIOUS epoch's survivors RELABELED through the new
    label table (an old component's representative id is always one of its
    member nodes and every prior member reappears via star edges, so the
    relabel join can never drop a component), and a per-component ``min``
    keeps the running best. The fold is confluent — min is associative,
    commutative, idempotent — so the canonical copy correctly CHANGES when
    a later epoch streams a better-quality (or tie-breaking lower-id) copy
    into an existing cluster, and a replayed epoch's re-fold is a no-op.
    Every CC node's key is folded in the epoch where it first appears as a
    verified-pair endpoint; nodes present later only via star edges were
    folded in their own epochs — so survivor(comp) == min over ALL final
    members, which is what the full-corpus-replay oracle certifies.

    Per-epoch driver-memory hygiene (ADVICE r11): superseded
    localCheckpoints (the consumed fold input, the previous epoch's label
    table and survivor table) are freed via ``free_local_checkpoint`` the
    moment the new state materializes — block-manager storage carries ONE
    copy of each state table across the life of the stream. Returns
    ``{"labels": DataFrame, "surv": DataFrame | None}`` (min-id canonical
    labels; survivors keyed by component)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from ..session import free_local_checkpoint
    from ..streaming.windows import stream_from_parquet_dir

    src = _run_tmp(spark, f"{tag}_stream", sf_dir)
    ckpt = _run_tmp(spark, f"{tag}_ckpt", sf_dir)
    art = _run_tmp(spark, f"{tag}_art", sf_dir)
    for d in (src, ckpt, art):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    _stage_stream_batches(docs, F.col("doc_id") % 3, src)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    state: dict = {"labels": None, "surv": None}

    def _on_batch(bdf: DataFrame, epoch_id: int) -> None:
        if bdf.isEmpty():
            return
        # candidates + exact verify (``dedup._minhash_epoch_pairs``); the
        # candidate list and the endpoint text serve are localCheckpoints —
        # the shingle verify leg reads the serve three times (sizes + both
        # self-join sides) and the survivor fold a fourth — freed below once
        # every consumer has materialized
        cand, served, verified = dedup._minhash_epoch_pairs(
            bdf, docs, "text", "doc_id", epoch_id, art
        )
        fold = verified.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        if state["labels"] is not None:
            star = state["labels"].filter(F.col("id") != F.col("comp")).select(
                F.col("id").alias("u"), F.col("comp").alias("v")
            )
            fold = fold.unionAll(star)
        # materialize ONCE before the emptiness probe: isEmpty() on the raw
        # plan runs the verify leg's shuffle stages, and connected_components
        # would re-run them — the checkpoint makes the probe free and the CC
        # input pre-materialized (measured ~2 s/epoch at sf0.1)
        fold = fold.localCheckpoint()
        if fold.isEmpty():
            free_local_checkpoint(fold)
            free_local_checkpoint(served)
            free_local_checkpoint(cand)
            return
        # CC's return is already backed by its own final localCheckpoint (the
        # round-12 hygiene pass made that a documented contract) — wrapping
        # another localCheckpoint on top would leave the inner one to GC
        new_labels = dedup.connected_components(fold, "u", "v", dedup_edges=False)
        new_surv = state["surv"]
        if survivors:
            keys = served.select(
                F.col("__id").alias("id"),
                F.struct(
                    (-text.quality_score("__t")).alias("nq"),
                    F.col("__id").alias("i"),
                ).alias("__k"),
            )
            members = keys.join(new_labels, "id").select("comp", "__k")
            if state["surv"] is not None:
                relab = (
                    state["surv"]
                    .alias("s")
                    .join(new_labels.alias("l"), F.col("s.comp") == F.col("l.id"))
                    .select(
                        F.col("l.comp").alias("comp"), F.col("s.__k").alias("__k")
                    )
                )
                members = members.unionAll(relab)
            new_surv = (
                members.groupBy("comp")
                .agg(F.min("__k").alias("__k"))
                .localCheckpoint()
            )
        # the new state is materialized — deterministically free the
        # superseded per-epoch checkpoints (ADVICE r11): the consumed fold
        # input and the PREVIOUS epoch's label/survivor tables; without this
        # the block manager grows one state copy per epoch for the life of
        # the stream (the same leak class ADVICE r10 closed in graph.py)
        free_local_checkpoint(fold)
        free_local_checkpoint(served)  # every consumer materialized
        free_local_checkpoint(cand)
        if state["labels"] is not None:
            free_local_checkpoint(state["labels"])
        if survivors and state["surv"] is not None:
            free_local_checkpoint(state["surv"])
        state["labels"] = new_labels
        state["surv"] = new_surv

    q = (
        stream_from_parquet_dir(spark, src, schema, max_files_per_trigger=1)
        .writeStream.foreachBatch(_on_batch)
        .queryName(f"{tag}_maintenance")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state


@query(
    "stream_minhash_cluster_maintenance",
    oracle=_NEARDUP_COMPONENTS_ORACLE,
)
def stream_minhash_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-CLUSTER maintenance, driver-gated (VERDICT_r10 "Next
    round" #4 — the composition of ``stream_minhash_index_maintenance``,
    which proves the band ARTIFACT survives streaming, with
    ``stream_cc_maintenance``'s star-fold, which proves CC label STATE
    does): document batches arrive on a real file-source stream (3
    single-file parquet batches, ``maxFilesPerTrigger=1`` +
    ``Trigger.AvailableNow``) and each ``foreachBatch`` epoch (1) lands
    the batch's signatures through the exactly-once sink's dynamic
    partition overwrite of ``__epoch=<id>`` in the band-bucket artifact
    (ADVICE r11: idempotent under foreachBatch's at-least-once epoch
    replay — a replayed epoch rewrites the same rows instead of appending
    them twice), (2) computes the
    INCREMENTAL candidate pairs — the epoch's own bucket PARTITION
    (partition-pruned scan, no semi-join needed) joined against the whole
    artifact, so new×old and new×new only, never a full-history re-pair —
    (3) exact-Jaccard-verifies just those candidates (unverified band
    collisions must not reach CC: clusters can't unmerge), and (4) folds
    the verified pairs into the CC label state via star(labels) ∪ pairs.
    The epoch is idempotent END-TO-END: the artifact write by partition
    overwrite, the fold because CC is confluent (re-folding a replayed
    epoch's pairs over state that already contains them is a no-op).
    Completeness: every pair (x, y) is emitted in the LATER endpoint's
    epoch; CC is confluent, so stream-maintained clusters == batch CC over
    the full exact-Jaccard pair set — the identical transitive-closure
    oracle as ``neardup_components``, which is what the green row
    certifies. Per-epoch driver-memory hygiene (ADVICE r11):
    superseded localCheckpoints (the previous epoch's label table, the
    consumed fold input) are freed via ``free_local_checkpoint`` the
    moment the new labels materialize — block-manager storage carries ONE
    label table across the life of the stream, not one per epoch. Output:
    (doc_id, component_id), min-id canonical labels. The epoch protocol
    lives in ``_minhash_cluster_stream`` (shared with
    ``stream_keepone_maintenance``, which extends it with the survivorship
    fold)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    state = _minhash_cluster_stream(spark, docs, sf_dir, "mhcc")
    return state["labels"].select(
        F.col("id").alias("doc_id"), F.col("comp").cast("long").alias("component_id")
    )


@query(
    "stream_keepone_maintenance",
    oracle="WITH RECURSIVE "
    + _NEARDUP_LABELS_CTES
    + ","
    + _QUALITY_CTE
    + """,
    ranked AS (
      SELECT l.doc_id, l.component_id, q.quality,
             row_number() OVER (PARTITION BY l.component_id
                                ORDER BY q.quality DESC, l.doc_id ASC) AS rn
      FROM labels l JOIN q ON q.doc_id = l.doc_id),
    surv AS (SELECT component_id, doc_id AS survivor_id, quality
             FROM ranked WHERE rn = 1)
    SELECT l.doc_id,
           CAST(l.component_id AS BIGINT) AS component_id,
           CAST(s.survivor_id AS BIGINT) AS survivor_id,
           l.doc_id = s.survivor_id AS is_survivor,
           round(s.quality, 6) AS survivor_quality
    FROM labels l JOIN surv s ON s.component_id = l.component_id
    """,
)
def stream_keepone_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup SURVIVORSHIP maintenance, driver-gated (VERDICT_r11
    "Next round" #3 — the third maintenance leg: index (r10) → clusters
    (r11) → keep-one policy (r12)): the stream maintains not just WHICH
    documents cluster but WHICH COPY SURVIVES each cluster, under the
    ``neardup_keep_best_quality`` policy (max ``text.quality_score``,
    min-doc-id tiebreak). Each ``_minhash_cluster_stream`` epoch appends
    the batch's band signatures idempotently, incrementally candidates +
    exact-verifies, folds verified pairs into CC state, and THEN folds the
    survivorship decision: endpoint quality keys ``struct(-quality, id)``
    union the previous survivors relabeled through the new label table,
    min per component. The fold keeps the RUNNING min, which is confluent
    — the canonical copy correctly changes when a later epoch streams a
    better-quality or earlier-ordered copy into an existing cluster (the
    subtlety VERDICT_r11 flagged), and component merges take the min of
    the merged survivors, which equals the min over all members. Output:
    one row per clustered doc — (doc_id, component_id, survivor_id,
    is_survivor, survivor_quality) — checked against an oracle that
    replays the FULL-corpus keep-one in batch (exact-Jaccard transitive
    closure + per-component argmax by quality desc, id asc), so the green
    row certifies batching, epoch boundaries, relabeling, and the
    survivor fold are all invisible in the result."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    state = _minhash_cluster_stream(spark, docs, sf_dir, "mhko", survivors=True)
    lab = state["labels"].select(F.col("id").alias("doc_id"), F.col("comp").alias("__c"))
    sv = state["surv"].select(
        F.col("comp").alias("__c"),
        F.col("__k.i").alias("__si"),
        F.round(-F.col("__k.nq"), 6).alias("survivor_quality"),
    )
    return lab.join(sv, "__c").select(
        "doc_id",
        F.col("__c").cast("long").alias("component_id"),
        F.col("__si").cast("long").alias("survivor_id"),
        (F.col("doc_id") == F.col("__si")).alias("is_survivor"),
        "survivor_quality",
    )


@query("minhash_artifact_roundtrip", oracle=_NEARDUP_ORACLE)
def minhash_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup service's OPERATIONAL loop, driver-gated: 90% of the corpus
    is signed ONCE into a persisted parquet band-bucket artifact
    (``dedup.write_minhash_artifact``), the remaining batch is APPENDED
    (signatures are pure functions of text, so appends never invalidate
    existing rows), and near-dup pairs are computed FROM the artifact
    (``minhash_pairs_from_artifact`` — no re-shingling of accepted docs;
    only exact verification touches text, restricted to candidates).
    Checked against the same exact-Jaccard oracle as ``minhash_neardups``:
    the artifact route must reproduce the direct route's answer exactly, or
    the persistence layer corrupted the signatures."""
    import os
    import shutil

    docs = _t(spark, sf_dir, "documents")
    path = _run_tmp(spark, "mh_artifact", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    dedup.write_minhash_artifact(
        docs.filter(F.col("doc_id") % 10 != 7), "text", "doc_id", path
    )
    dedup.write_minhash_artifact(
        docs.filter(F.col("doc_id") % 10 == 7), "text", "doc_id", path, mode="append"
    )
    out = dedup.minhash_pairs_from_artifact(
        docs, "text", "doc_id", path, min_jaccard=0.5
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "stream_late_data_accounting",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           count(*) AS n
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1
    """,
)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, driver-gated — calibrated to what
    Spark ACTUALLY guarantees (measured in this build, recorded here):
    a late row for a window NEVER seen in state is admitted and the window
    emits once; the drop applies to rows arriving after their window was
    EMITTED AND EVICTED — that is the append-mode exactly-once contract.
    The replay stages three forced-order micro-batches: (1) the full feed,
    (2) a single tail row (triggers emission+eviction of every closed
    window under the batch-1 watermark), (3) a RE-DELIVERY of five days of
    already-emitted rows. Batch 3 must be entirely discarded: a leaked row
    either double-counts a window or appends a duplicate window row, and
    both fail the hash against the each-row-counted-once oracle. (The
    duplicated tail row lives in a beyond-watermark window that append
    mode withholds, so it never surfaces.)"""
    import os
    import shutil

    from ..streaming.windows import (
        _as_event_time,
        run_stream_to_memory,
        stream_from_parquet_dir,
    )

    ev = _t(spark, sf_dir, "events").select("ts")
    src = _run_tmp(spark, "late", sf_dir)
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)

    def _stage(df: DataFrame, batch_no: int) -> None:
        sub = os.path.join(src, f"b{batch_no}")
        df.coalesce(1).write.parquet(sub)
        mtime = 1_000_000_000 * batch_no
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(src, f"{batch_no}_{f}")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (mtime, mtime))
        shutil.rmtree(sub)

    _stage(ev, 1)  # the full feed
    _stage(ev.orderBy(F.col("ts").desc()).limit(1), 2)  # tail tick: emit+evict
    _stage(  # re-delivery of already-emitted days
        ev.filter(
            (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-15")
        ),
        3,
    )

    # every staged file is written from ``ev``: no need to infer its schema
    schema = ev.schema
    stream = _as_event_time(
        stream_from_parquet_dir(
            spark, src, schema, glob_filter="*.parquet", max_files_per_trigger=1
        ),
        "ts",
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    run_stream_to_memory(agg, "late_accounting", output_mode="append")
    return spark.table("late_accounting")


# One SQL text run by both engines; only the year extraction is spelled
# per dialect.
_MARKET_SHARE_SQL = """
    WITH yearly AS (
      SELECT {order_year} AS order_year,
             n_name,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
               AS rev
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2)
    SELECT CAST(order_year AS BIGINT) AS order_year, n_name,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER (PARTITION BY order_year) AS DOUBLE), 6)
             AS share
    FROM yearly
    """


@query(
    "sql_interface_market_share",
    oracle=_MARKET_SHARE_SQL.format(order_year="extract(year FROM o_orderdate)"),
)
def sql_interface_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PURE-SQL front end, driver-gated: tables registered as temp
    views (``sources.io.register_views``) and the whole query — a
    three-join star, decimal revenue, and a windowed share-of-year — written
    as one ``spark.sql`` string, zero DataFrame calls. Proves an analyst
    who never touches the operator library gets the same engine (Catalyst
    plans SQL and DataFrames identically; the session's ANSI/TZ/decimal
    semantics apply to both). Output hash-matches the DuckDB twin of the
    same SQL."""
    from ..sources.io import register_views

    register_views(spark, sf_dir, ("lineitem", "orders", "customer", "nation"))
    return spark.sql(_MARKET_SHARE_SQL.format(order_year="year(o_orderdate)"))


@query(
    "corrupt_record_quarantine",
    oracle="""
    SELECT CASE WHEN i % 7 = 3 THEN 'corrupt' ELSE 'good' END AS status,
           count(*) AS n,
           CAST(sum(CASE WHEN i % 7 <> 3 THEN i ELSE 0 END) AS BIGINT)
             AS good_value_total
    FROM generate_series(0, 199) AS g(i)
    GROUP BY 1
    """,
)
def corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling at the SOURCE layer, driver-gated: a JSON
    feed where every 7th-ish record is broken (truncated document) is read
    in PERMISSIVE mode with ``columnNameOfCorruptRecord`` — good rows parse,
    bad rows land whole in the quarantine column instead of failing the job
    (FAILFAST's behavior) or silently disappearing (DROPMALFORMED's). The
    query reports the good/corrupt split and the good-row value total; the
    oracle regenerates both from the construction rule, so a swallowed or
    misclassified record shifts a count and fails the hash."""
    import os
    import shutil

    from pyspark.sql import types as T

    path = _run_tmp(spark, "corrupt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    with open(os.path.join(path, "feed.json"), "w") as f:
        for i in range(200):
            if i % 7 == 3:
                f.write(f'{{"id": {i}, "value": ')  # truncated mid-object
                f.write("\n")
            else:
                f.write(f'{{"id": {i}, "value": {i}}}\n')
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("value", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    status = F.when(F.col("_corrupt_record").isNotNull(), "corrupt").otherwise(
        "good"
    )
    return raw.groupBy(status.alias("status")).agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("value"))),
            F.lit(0),
        ).alias("good_value_total"),
    )


_UNPIVOT_ORACLE = """
    SELECT l_returnflag, measure,
           round(CAST(sum(CAST(val AS DECIMAL(30,4))) AS DOUBLE), 2) AS total
    FROM (
      SELECT l_returnflag, 'quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem)
    GROUP BY 1, 2
    """


@query("unpivot_lineitem_measures", oracle=_UNPIVOT_ORACLE)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (``unpivot``/melt — the inverse of
    ``pivot_event_types``): three measure columns melt into (measure, val)
    rows, then one grouped decimal sum per (flag, measure). Spark's
    ``unpivot`` is an Expand node — 3× row fan-out BEFORE the partial agg,
    which immediately shrinks each partition to ≤ |flags|×3 rows, so the
    shuffle never sees the fan-out (same discipline as GROUPING SETS)."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    ).withColumn(
        "measure", F.expr("substring(measure, 3)")  # l_quantity -> quantity
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.round(_dsum(F.col("val")), 2).alias("total")
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(l_quantity AS DECIMAL(30,4)) AS wt,
             l_orderkey, l_linenumber
      FROM lineitem),
    c AS (
      SELECT l_returnflag, price, wt,
             sum(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY price ASC, l_orderkey ASC, l_linenumber ASC
                           ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM w),
    m AS (
      SELECT l_returnflag, price,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY cum ASC, price ASC) AS rn
      FROM c WHERE cum >= total / 2)
    SELECT l_returnflag, round(price, 2) AS weighted_median_price
    FROM m WHERE rn = 1
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (the statistic ``percentile`` can't express): the
    price at which HALF THE QUANTITY — not half the rows — sits below, per
    return flag. One windowed pass: decimal cumulative weights over a
    total-ordered sort (price, then the unique line key, so equal prices
    accumulate deterministically), then the first row crossing total/2.
    Decimal cumsums make the crossing point partial-order-independent; the
    shape is the §2.7 window class (one shuffle on the group key)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("decimal(30,4)").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    order = Window.partitionBy("l_returnflag").orderBy(
        F.col("price").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    whole = Window.partitionBy("l_returnflag")
    c = w.select(
        "l_returnflag",
        "price",
        F.sum("wt")
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("wt").over(whole).alias("total"),
    ).filter(F.col("cum") >= F.col("total") / 2)
    return rank.top_n_per_group(
        c, ("l_returnflag",), "cum", order="asc", n=1, tiebreak=("price",), rank_col="__rn"
    ).select("l_returnflag", F.round("price", 2).alias("weighted_median_price"))


@query(
    "event_type_hour_mutual_info",
    oracle="""
    WITH j AS (
      SELECT event_type, extract(hour FROM ts) AS hr, count(*) AS nxy
      FROM events GROUP BY 1, 2),
    mx AS (SELECT event_type, sum(nxy) AS nx FROM j GROUP BY 1),
    my AS (SELECT hr, sum(nxy) AS ny FROM j GROUP BY 1),
    n AS (SELECT sum(nxy) AS n FROM j)
    SELECT CAST(n.n AS BIGINT) AS n_events,
           count(*) AS n_cells,
           round(CAST(sum(CAST(round(
                   (nxy * 1.0 / n.n)
                   * ln((nxy * 1.0 * n.n) / (mx.nx * 1.0 * my.ny)), 12)
                 AS DECIMAL(30,12))) AS DOUBLE), 6) AS mutual_info_nats
    FROM j JOIN mx USING (event_type) JOIN my USING (hr) CROSS JOIN n
    GROUP BY n.n
    """,
)
def event_type_hour_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; hour-of-day) — the dependency
    statistic a feature-selection pass computes for every candidate column
    pair (MI ≈ 0 ⇒ the hour tells you nothing about the type). Three
    grouped counts (joint + two marginals, each partial-agg'd), marginals
    broadcast back onto the ≤ |types|×24 joint cells, per-cell
    contributions rounded then decimal-summed so the scalar is
    accumulation-order-independent. Generalizes to any categorical pair at
    100 TB: the shuffles carry cell counts, never rows."""
    ev = _t(spark, sf_dir, "events")
    j = ev.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count("*").alias("nxy")
    )
    mx = j.groupBy("event_type").agg(F.sum("nxy").alias("nx"))
    my = j.groupBy("hr").agg(F.sum("nxy").alias("ny"))
    n = j.agg(F.sum("nxy").alias("n"))
    contrib = F.round(
        (F.col("nxy") / F.col("n"))
        * F.log((F.col("nxy") * F.col("n")) / (F.col("nx") * F.col("ny"))),
        12,
    ).cast("decimal(30,12)")
    return (
        j.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hr")
        .crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum(contrib).cast("double"), 6).alias("mutual_info_nats"),
        )
        .select(
            F.col("n").cast("long").alias("n_events"),
            "n_cells",
            "mutual_info_nats",
        )
    )


# ---------------------------------------------------------------------------
# Spark-4-native surface: VARIANT, native XML, Python UDTF, recursive CTE
# ---------------------------------------------------------------------------


@query(
    "variant_events_profile",
    oracle="""
    SELECT CAST(floor(CAST(json_extract(props, '$.k') AS INTEGER) / 10.0) AS BIGINT) AS k_band,
           count(*) AS n,
           count(CAST(json_extract(props, '$.absent') AS INTEGER)) AS n_absent,
           min(CAST(json_extract(props, '$.k') AS INTEGER)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY 1
    """,
)
def variant_events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless semi-structured path via the VARIANT type (Spark 4):
    ``parse_json`` → binary variant → typed ``variant_get`` extraction —
    the open-schema twin of ``json_extract_props`` (which declares a schema
    up front). ``try_variant_get`` on a missing path returns NULL instead of
    throwing, proving the lenient navigation contract. At 100 TB the win is
    parse-once: the variant binary is columnar-shreddable and each
    ``variant_get`` is a cheap path walk, vs re-parsing the JSON string per
    extraction."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select(F.parse_json("props").alias("v"))
    ex = v.select(
        F.variant_get("v", "$.k", "int").alias("k"),
        F.try_variant_get("v", "$.absent", "int").alias("absent"),
    )
    return ex.groupBy(
        F.floor(F.col("k") / 10).cast("long").alias("k_band")
    ).agg(
        F.count("*").alias("n"),
        F.count("absent").alias("n_absent"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "xml_roundtrip",
    oracle="""
    SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey, count(*) AS n_suppliers,
           round(CAST(sum(CAST(s_acctbal AS DECIMAL(30,4))) AS DOUBLE), 2) AS total_bal
    FROM supplier GROUP BY 1
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink → explicit-schema XML source cycle (native in Spark 4, no
    external package — completes the interchange matrix next to
    csv/json/orc): doubles must survive text serialization exactly, and the
    read is FAILFAST with a declared schema, never inferred."""
    import os

    from pyspark.sql import types as T

    from ..sources.io import read_xml, write_xml

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    path = _run_tmp(spark, "xml_supp", sf_dir)
    write_xml(s, path, row_tag="supplier", mode="overwrite")
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_nationkey", T.LongType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    back = read_xml(spark, path, schema, row_tag="supplier")
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_suppliers"),
        F.round(_dsum(F.col("s_acctbal")), 2).alias("total_bal"),
    )


@query(
    "doc_chunks_udtf",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, [x FOR x IN string_split_regex(text, '\s+') IF x <> ''] AS ws
      FROM documents),
    c AS (
      SELECT doc_id, ws,
             unnest(range(0, CAST(ceil(len(ws) / 16.0) AS BIGINT))) AS ci
      FROM w)
    SELECT doc_id,
           CAST(ci AS INTEGER) AS chunk_idx,
           CAST(least(16, len(ws) - ci * 16) AS INTEGER) AS n_words,
           ws[CAST(ci * 16 + 1 AS BIGINT)] AS first_word,
           ws[CAST(least(len(ws), ci * 16 + 16) AS BIGINT)] AS last_word
    FROM c
    """,
)
def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF tier (Spark 4 ``@udtf`` + LATERAL join): one input doc →
    many chunk rows, the row-generator shape no other sanctioned-Python tier
    expresses directly. Arrow batching is enabled for the transfer; the
    JVM-side expression twin (``packing.chunk_by_tokens``) remains the hot
    path — this query covers the API tier with exact-oracle semantics."""
    from ..operators.packing import word_chunk_udtf

    try:
        spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    except Exception:
        pass  # immutable conf in some deployments: row-based UDTF still correct
    spark.udtf.register("word_chunks16", word_chunk_udtf(16))
    docs = _t(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.chunk_idx, t.n_words, t.first_word, t.last_word
        FROM {docs} d, LATERAL word_chunks16(d.text) t
        """,
        docs=docs,
    )


@query(
    "recursive_custkey_rollup",
    oracle="""
    WITH RECURSIVE chain(custkey, anc, depth, bal) AS (
      SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(30,4))
      FROM customer
      UNION ALL
      SELECT custkey, anc // 10, depth + 1, bal FROM chain WHERE anc >= 10
    )
    SELECT anc AS root, count(*) AS n_customers, max(depth) AS max_depth,
           round(CAST(sum(bal) AS DOUBLE), 2) AS total_bal
    FROM chain WHERE anc < 10
    GROUP BY anc
    """,
)
def recursive_custkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE in Spark SQL (new in Spark 4): iterative ancestor
    walk — each custkey climbs the synthetic decimal-trie hierarchy
    (parent = key DIV 10) to its single-digit root, carrying its balance;
    terminal rows aggregate per root. The fixed point is reached in
    O(log10 max_key) UNION ALL steps — the declarative twin of the
    ``connected_components`` driver loop, here entirely inside Catalyst
    (no driver-side convergence check). The recursion state is one slim
    row per customer per level; nothing wider ever shuffles."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return spark.sql(
        """
        WITH RECURSIVE chain(custkey, anc, depth, bal) AS (
          SELECT c_custkey, c_custkey, 0, CAST(c_acctbal AS DECIMAL(30,4))
          FROM {cust}
          UNION ALL
          SELECT custkey, anc DIV 10, depth + 1, bal FROM chain WHERE anc >= 10
        )
        SELECT anc AS root, count(*) AS n_customers, max(depth) AS max_depth,
               round(CAST(sum(bal) AS DOUBLE), 2) AS total_bal
        FROM chain WHERE anc < 10
        GROUP BY anc
        """,
        cust=c,
    )


# ---------------------------------------------------------------------------
# Corpus statistics II: winnowing, agreement, drift, budget allocation
# ---------------------------------------------------------------------------


# Winnowed fingerprints `fp` (doc_id, mh): the minimum 16-hex md5 of each
# window of 4 consecutive lowercased word 3-grams.
_WINNOW_FP_CTES = r"""w AS (
      SELECT doc_id,
             [x FOR x IN string_split_regex(lower(trim(text)), '\s+') IF x <> ''] AS ws
      FROM documents),
    g AS (SELECT doc_id, ws, unnest(range(0, len(ws) - 2)) AS pos
          FROM w WHERE len(ws) >= 3),
    h AS (SELECT doc_id, pos,
                 substr(md5(ws[pos + 1] || ' ' || ws[pos + 2] || ' ' || ws[pos + 3]), 1, 16) AS hh
          FROM g),
    m AS (SELECT doc_id, pos,
                 min(hh) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mh
          FROM h),
    fp AS (SELECT DISTINCT doc_id, mh FROM m WHERE pos >= 3)"""


@query(
    "winnowed_doc_fingerprints",
    oracle="WITH "
    + _WINNOW_FP_CTES
    + """,
    c AS (SELECT doc_id, count(*) AS n_fingerprints FROM fp GROUP BY 1)
    SELECT c.doc_id, CAST(len(w.ws) - 2 AS BIGINT) AS n_grams, c.n_fingerprints,
           round(c.n_fingerprints * 1.0 / (len(w.ws) - 2), 6) AS density
    FROM c JOIN w ON c.doc_id = w.doc_id
    """,
)
def winnowed_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint audit (``text.winnowed_fingerprints`` — the
    MOSS local-sketch algorithm): per document, how many distinct
    window-min shingle hashes survive selection, and the realized density
    (theory says ≈ 2/(window+1) ≈ 0.4 for window=4). The position-robust
    third member of the fingerprint family next to exact-md5 and
    simhash."""
    docs = _t(spark, sf_dir, "documents")
    fp = text.winnowed_fingerprints(docs, "text", "doc_id", k=3, window=4)
    counts = fp.groupBy("doc_id").agg(F.count("*").alias("n_fingerprints"))
    grams = docs.select(
        "doc_id", (text.token_count("text") - 2).cast("long").alias("n_grams")
    )
    return counts.join(grams, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        F.round(F.col("n_fingerprints") / F.col("n_grams"), 6).alias("density"),
    )


@query(
    "classifier_agreement_kappa",
    oracle=(
        "WITH preds AS (" + _language_id_oracle() + "), "
        """
    tot AS (SELECT count(*) AS n,
                   CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
            FROM preds),
    na AS (SELECT lang AS cls, count(*) AS na FROM preds GROUP BY 1),
    np AS (SELECT lang_pred AS cls, count(*) AS np FROM preds GROUP BY 1),
    pe AS (SELECT CAST(sum(coalesce(na.na, 0) * coalesce(np.np, 0)) AS BIGINT) AS pe_num
           FROM na FULL JOIN np ON na.cls = np.cls)
    SELECT CAST(tot.n AS BIGINT) AS n, tot.n_agree,
           round(tot.n_agree * 1.0 / tot.n, 6) AS po,
           round(pe.pe_num * 1.0 / (tot.n * tot.n), 6) AS pe,
           round((tot.n_agree * tot.n - pe.pe_num) * 1.0
                 / (tot.n * tot.n - pe.pe_num), 6) AS kappa
    FROM tot CROSS JOIN pe
    """
    ),
)
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-voting language ID and the
    labeled ``lang`` column — chance-corrected agreement, the statistic an
    annotation-quality or classifier-gate pass reports alongside the raw
    confusion matrix (``language_id_confusion``). All-integer until the
    final divisions: kappa = (A·n − Σ_c na_c·np_c) / (n² − Σ_c na_c·np_c),
    so partial-agg order can't move a digit. Two tiny grouped counts plus
    one scalar agg; every join side is a handful of rows."""
    docs = _t(spark, sf_dir, "documents")
    preds = docs.select("lang", text.language_id("text").alias("lang_pred"))
    tot = preds.agg(
        F.count("*").alias("n"),
        F.sum((F.col("lang") == F.col("lang_pred")).cast("long")).alias("n_agree"),
    )
    na = preds.groupBy(F.col("lang").alias("cls")).agg(F.count("*").alias("na"))
    np_ = preds.groupBy(F.col("lang_pred").alias("cls")).agg(
        F.count("*").alias("np")
    )
    pe = (
        na.join(np_, "cls", "full")
        .agg(
            F.sum(
                F.coalesce(F.col("na"), F.lit(0))
                * F.coalesce(F.col("np"), F.lit(0))
            ).alias("pe_num")
        )
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n",
        "n_agree",
        F.round(F.col("n_agree") / F.col("n"), 6).alias("po"),
        F.round(F.col("pe_num") / (F.col("n") * F.col("n")), 6).alias("pe"),
        F.round(
            (F.col("n_agree") * F.col("n") - F.col("pe_num"))
            / (F.col("n") * F.col("n") - F.col("pe_num")),
            6,
        ).alias("kappa"),
    )


@query(
    "token_budget_waterfill",
    oracle=r"""
    WITH per AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY 1),
    sc AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS k FROM per),
    b AS (SELECT per.source, per.n_tokens, sc.k, sc.total // 2 AS budget,
                 row_number() OVER (ORDER BY n_tokens ASC, source ASC) AS i,
                 CAST(sum(n_tokens) OVER (ORDER BY n_tokens ASC, source ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM per CROSS JOIN sc),
    f AS (SELECT *, (cum + n_tokens * (k - i)) <= budget AS feasible FROM b),
    sel AS (SELECT coalesce(max(CASE WHEN feasible THEN i END), 0) AS istar,
                   coalesce(max(CASE WHEN feasible THEN cum END), 0) AS cumstar,
                   max(budget) AS budget, max(k) AS k
            FROM f),
    cap AS (SELECT CASE WHEN istar < k THEN
                     round((budget - cumstar) * 1.0 / (k - istar), 6)
                   END AS cap FROM sel)
    -- degenerate-input guards mirror the operator (ADVICE r5): NULL cap =
    -- budget covers everything (least() ignores the NULL, capped false);
    -- a zero-token source has undefined epochs -> agreed NULL
    SELECT f.source, f.n_tokens, cap.cap,
           round(least(f.n_tokens * 1.0, cap.cap), 2) AS allocated,
           CASE WHEN f.n_tokens > 0 THEN
             round(round(least(f.n_tokens * 1.0, cap.cap), 2) / f.n_tokens, 6)
           END AS epochs,
           coalesce(f.n_tokens * 1.0 > cap.cap, false) AS capped
    FROM f CROSS JOIN cap
    """,
)
def token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation — the data-mixing solver: given
    per-source token inventories and a global training budget B (here
    total/2), find the unique cap c with Σ min(n_i, c) = B; small sources
    keep everything, large sources are clipped to c (max-min fair shares,
    single-epoch). Closed form via one ordered pass: sort sources by
    inventory, then the break point is the longest prefix where granting
    everyone the current inventory still fits — no iteration, unlike the
    textbook bisection. The corpus-sized work is ONE token-count aggregate;
    everything after runs on a |sources|-row table (the single-partition
    window is over k≈10 rows, documented and deliberate)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.sum(text.token_count("text").cast("long")).alias("n_tokens")
    )
    tot = per.agg(F.sum("n_tokens").alias("__total"))
    with_budget = per.crossJoin(F.broadcast(tot)).withColumn(
        "__budget", F.expr("__total DIV 2")
    )
    return sampling.waterfill_allocations(
        with_budget, "source", "n_tokens", budget_col="__budget"
    )


@query(
    "curriculum_token_budgets",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS tok
      FROM documents),
    q AS (
      SELECT doc_id, lang, len(tok) AS nt,
             round(
               (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
               (0.5 * least(len(list_filter(tok, x -> list_contains(
                        ['the','a','of','and','to','in','is','it','that','for'],
                        lower(x)))) / len(tok) * 5, 1.0)
                + 0.5 * len(list_distinct(tok)) / len(tok)),
               6) AS q
      FROM t),
    b AS (
      SELECT lang, nt,
             ntile(5) OVER (PARTITION BY lang ORDER BY q DESC, doc_id ASC)
               AS bucket
      FROM q),
    per AS (
      SELECT lang || '#' || bucket AS cell, CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1),
    sc AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total, count(*) AS k FROM per),
    wb AS (SELECT per.cell, per.n_tokens, sc.k, sc.total // 3 AS budget,
                  row_number() OVER (ORDER BY n_tokens ASC, cell ASC) AS i,
                  CAST(sum(n_tokens) OVER (ORDER BY n_tokens ASC, cell ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                    AS cum
           FROM per CROSS JOIN sc),
    f AS (SELECT *, (cum + n_tokens * (k - i)) <= budget AS feasible FROM wb),
    sel AS (SELECT coalesce(max(CASE WHEN feasible THEN i END), 0) AS istar,
                   coalesce(max(CASE WHEN feasible THEN cum END), 0) AS cumstar,
                   max(budget) AS budget, max(k) AS k
            FROM f),
    cap AS (SELECT CASE WHEN istar < k THEN
                     round((budget - cumstar) * 1.0 / (k - istar), 6)
                   END AS cap FROM sel)
    SELECT f.cell, f.n_tokens, cap.cap,
           round(least(f.n_tokens * 1.0, cap.cap), 2) AS allocated,
           CASE WHEN f.n_tokens > 0 THEN
             round(round(least(f.n_tokens * 1.0, cap.cap), 2) / f.n_tokens, 6)
           END AS epochs,
           coalesce(f.n_tokens * 1.0 > cap.cap, false) AS capped
    FROM f CROSS JOIN cap
    """,
)
def curriculum_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum token budgeting (VERDICT_r08 item 7 — the
    classifier-curriculum composition of ``quality_score`` + deterministic
    ntile tiers + ``waterfill_allocations``): every document is scored with
    the C4/Gopher-style quality heuristic, bucketed into 5 curriculum tiers
    PER LANGUAGE (ntile over the total order (quality desc, doc_id) — the
    partitioned window keeps the ranking scale-safe, unlike a global ntile,
    and per-language tiers are what a multilingual curriculum schedule
    actually consumes), then a global token budget (⅓ of the inventory) is
    water-filled across the lang×tier cells: small cells train fully, big
    cells clip at the max-min-fair cap. The corpus-sized work is one
    score+count scan and one partitioned window; everything after runs on
    the |langs|·5-row cell table (the single-partition waterfill window is
    over ~15 rows, the documented ``token_budget_waterfill`` stance)."""
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        text.quality_score("text").alias("__q"),
        text.token_count("text").cast("long").alias("__nt"),
    )
    w = W.partitionBy("lang").orderBy(F.col("__q").desc(), F.col("doc_id").asc())
    cells = (
        scored.withColumn("__bucket", F.ntile(5).over(w))
        .groupBy("lang", "__bucket")
        .agg(F.sum("__nt").alias("n_tokens"))
        .select(
            F.concat_ws(
                "#", F.col("lang"), F.col("__bucket").cast("string")
            ).alias("cell"),
            "n_tokens",
        )
    )
    tot = cells.agg(F.sum("n_tokens").alias("__total"))
    with_budget = cells.crossJoin(F.broadcast(tot)).withColumn(
        "__budget", F.expr("__total DIV 3")
    )
    return sampling.waterfill_allocations(
        with_budget, "cell", "n_tokens", budget_col="__budget"
    )


@query(
    "neardup_cluster_delta",
    oracle=r"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                     for i in range(1, len(w) - 1)])) AS s
      FROM docs WHERE len(w) >= 3),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM pr
      JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE shared * 1.0 / (sa.sz + sb.sz - shared) >= 0.7),
    e AS (
      SELECT id_a + 4294967296 AS s, id_b + 4294967296 AS t FROM pairs
      UNION ALL
      SELECT id_a, id_b FROM pairs WHERE id_a % 10 <> 7 AND id_b % 10 <> 7),
    edges AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
    reach AS (SELECT s, t FROM edges
              UNION SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
    labels AS (SELECT s AS node, least(s, min(t)) AS comp FROM reach GROUP BY s),
    newm AS (SELECT node - 4294967296 AS id, comp
             FROM labels WHERE node >= 4294967296),
    oldm AS (SELECT node AS id, comp FROM labels WHERE node < 4294967296),
    per AS (
      SELECT n.comp, count(*) AS n_docs,
             sum(CASE WHEN n.id % 10 = 7 THEN 1 ELSE 0 END) AS n_new_docs,
             count(DISTINCT CASE WHEN n.id % 10 <> 7
                                 THEN coalesce(o.comp, n.id) END)
               AS n_old_clusters
      FROM newm n LEFT JOIN oldm o ON o.id = n.id
      GROUP BY n.comp)
    SELECT CASE WHEN n_old_clusters = 0 THEN 'appeared'
                WHEN n_old_clusters >= 2 THEN 'merged'
                WHEN n_new_docs > 0 THEN 'grown'
                ELSE 'unchanged' END AS change_kind,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_docs) AS BIGINT) AS n_docs
    FROM per GROUP BY 1
    """,
)
def neardup_cluster_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot near-dup CLUSTER DELTA audit
    (``dedup.neardup_cluster_delta``, VERDICT_r08 item 7): with the
    ``minhash_incremental_neardups`` snapshot convention (docs with
    ``doc_id % 10 = 7`` arrived since the old snapshot), every current
    near-dup cluster (exact 3-gram Jaccard ≥ 0.7, the family's
    exact-verified tier) is classified appeared / merged / grown /
    unchanged against the old snapshot's clustering. ONE blocked Jaccard
    pass feeds both snapshots (pair similarity is pairwise, so old pairs =
    current pairs restricted to old endpoints) and ONE CC loop labels both
    graphs (level-composite encoding). 'merged' is structurally absent in
    THIS corpus (generated duplicate groups are cliques that new documents
    never bridge) — the branch is pinned by a crafted unit test instead;
    the other three classes are populated at every SF. At 100 TB the pair
    feed swaps to ``minhash_pairs_from_artifact`` via the ``pairs=``
    parameter; the classification tail is unchanged."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.neardup_cluster_delta(
        docs,
        "text",
        "doc_id",
        is_new=lambda c: c % 10 == 7,
        n=3,
        min_jaccard=0.7,
    )


@query(
    "order_price_psi",
    oracle="""
    WITH f AS (
      SELECT least(CAST(floor(o_totalprice / 50000) AS BIGINT), 9) AS bin,
             extract(year FROM o_orderdate) AS yr
      FROM orders
      WHERE extract(year FROM o_orderdate) IN (1995, 1996)),
    c AS (SELECT bin,
                 CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                 CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM f GROUP BY 1),"""
    + _PSI_READOUT_SQL,
)
def order_price_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two periods of order prices
    (1995 reference vs 1996 current) over 10 fixed-width bins — the
    standard drift gate a feature store runs before trusting a model on
    this month's data (PSI < 0.1 stable, > 0.25 shifted). Fixed bin edges
    (not percentiles) keep the two engines' binning trivially identical;
    Laplace +1 smoothing keeps empty bins finite. One scan → 10-bin
    table; the scalar totals broadcast back; per-bin contributions round
    at 12 digits then decimal-sum so the headline PSI is
    accumulation-order-independent."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    f = o.filter(yr.isin(1995, 1996)).select(
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
        .cast("long")
        .alias("bin"),
        yr.alias("yr"),
    )
    c = f.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0))
        .cast("long")
        .alias("n_ref"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    bins = spark.range(10).select(F.col("id").alias("bin"))
    fl = bins.join(c, "bin", "left").select(
        "bin",
        F.coalesce(F.col("n_ref"), F.lit(0)).cast("long").alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).cast("long").alias("n_cur"),
    )
    return _psi_readout(fl)


# ---------------------------------------------------------------------------
# Subquery / decorrelation class + concentration statistics
# ---------------------------------------------------------------------------


@query(
    "above_customer_avg_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / count(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def above_customer_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery in WHERE — the decorrelation shape
    Catalyst rewrites into an aggregate + self-join (no per-row re-scan;
    ``RewriteCorrelatedScalarSubquery``). Orders more than 1.5× their own
    customer's average price. The inner average is a decimal sum divided
    by an exact count, surfaced as double, so both engines compute the
    bit-identical threshold regardless of partial-agg order. At 100 TB the
    decorrelated plan is one groupBy(custkey) over orders plus one
    key-partitioned join — the same cost as writing the join by hand."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM {orders} o
        WHERE o_totalprice > 1.5 * (
          SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,4))) AS DOUBLE) / count(*)
          FROM {orders} o2 WHERE o2.o_custkey = o.o_custkey)
        """,
        orders=o,
    )


@query(
    "lateral_top2_orders",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT (Spark's lateral
    join support): each customer's two most expensive orders, customers
    without orders dropping out (inner lateral). Deterministic total order
    via the orderkey tiebreak. The window-function twin (``grouped_topn``)
    is the classic scale path; this query covers the LATERAL shape — at
    100 TB Catalyst plans it as the same shuffle-on-key + per-key
    selection, so the declarative form costs nothing extra."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM {cust} c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM {orders} o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        """,
        cust=c,
        orders=o,
    )


@query(
    "customer_order_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer INCLUDING
    zero-order customers (the left join the inner-join twin
    ``customer_order_counts`` deliberately lacks). Aggregate-before-join:
    orders collapse to (custkey, n) first, so the join carries one row per
    customer, then a second tiny aggregate over the counts."""
    c = _t(spark, sf_dir, "customer")
    counts = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("__n"))
    )
    per_cust = c.join(counts, "c_custkey", "left").select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "gini_customer_spend",
    oracle="""
    WITH x AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,4))) AS spend
      FROM orders GROUP BY 1),
    r AS (
      SELECT spend,
             row_number() OVER (ORDER BY spend ASC, o_custkey ASC) AS i
      FROM x),
    s AS (
      SELECT count(*) AS n,
             CAST(sum(spend) AS DECIMAL(38,4)) AS total,
             CAST(sum(i * spend) AS DECIMAL(38,4)) AS weighted
      FROM r)
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(CAST(total AS DOUBLE), 2) AS total_spend,
           round((2.0 * CAST(weighted AS DOUBLE) - (n + 1) * CAST(total AS DOUBLE))
                 / (n * CAST(total AS DOUBLE)), 6) AS gini
    FROM s
    """,
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the single-number concentration
    statistic next to ``revenue_pareto_deciles``' curve, via the rank
    formula G = (2·Σ i·x(i) − (n+1)·Σ x) / (n·Σ x) over ascending spend.
    Decimal sums keep Σx and Σi·x exact, so the one double division at the
    end is bit-identical in both engines. The global row_number needs a
    single-partition sort of the per-customer AGGREGATE (|customers| rows,
    not |orders|) — same documented trade-off as ``rfm_segments``; the
    scale path is a two-pass range-partitioned ranking."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    x = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)")).alias("spend")
    )
    r = x.select(
        "spend",
        F.row_number()
        .over(Window.orderBy(F.col("spend").asc(), F.col("o_custkey").asc()))
        .alias("i"),
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("spend").cast("decimal(38,4)").alias("total"),
        F.sum(F.col("i") * F.col("spend")).cast("decimal(38,4)").alias("weighted"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.round(F.col("total").cast("double"), 2).alias("total_spend"),
        F.round(
            (
                2.0 * F.col("weighted").cast("double")
                - (F.col("n") + 1) * F.col("total").cast("double")
            )
            / (F.col("n") * F.col("total").cast("double")),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# ML data-quality III: label noise, temporal hygiene, fold balance
# ---------------------------------------------------------------------------


@query(
    "knn_label_disagreement",
    oracle="""
    WITH nn AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_sum(list_transform(list_zip(q.embedding, c.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
          FROM (SELECT * FROM embeddings WHERE vec_id < 30) q
          JOIN embeddings c ON c.vec_id <> q.vec_id
        )
      ) WHERE rn <= 10),
    j AS (
      SELECT n.query_id, ql.label AS qlabel, nl.label AS nlabel
      FROM nn n
      JOIN embeddings ql ON ql.vec_id = n.query_id
      JOIN embeddings nl ON nl.vec_id = n.neighbor_id)
    SELECT query_id, max(qlabel) AS label,
           CAST(sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
           round(sum(CASE WHEN nlabel <> qlabel THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
             AS disagreement
    FROM j GROUP BY query_id
    """,
)
def knn_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection via k-NN disagreement (confident-learning
    lite): for each probe vector, the fraction of its 10 cosine-nearest
    neighbors carrying a DIFFERENT label — high disagreement flags likely
    mislabels for human review. Reuses the exactness-baseline top-k
    (broadcast probes over the streamed corpus, ``cosine_topk_bruteforce``)
    plus two key-partitioned label joins; at 100 TB the probe set is the
    suspicious sample, not the corpus, so the pair space stays |probes|×N
    with the LSH/IVF variants as the declared scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 30).select("vec_id", "embedding")
    nn = similarity.cosine_topk_bruteforce(q, emb.select("vec_id", "embedding"), k=10)
    lab = emb.select("vec_id", "label")
    j = (
        nn.join(
            lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
            ),
            "neighbor_id",
        )
    )
    dis = F.sum((F.col("nlabel") != F.col("qlabel")).cast("long"))
    return j.groupBy("query_id").agg(
        F.max("qlabel").alias("label"),
        dis.alias("n_disagree"),
        F.round(dis / F.count("*"), 4).alias("disagreement"),
    )


@query(
    "temporal_split_embargo",
    oracle="""
    WITH s AS (
      SELECT user_id,
             CASE WHEN ts <  TIMESTAMP '2024-01-20' THEN 'train'
                  WHEN ts >= TIMESTAMP '2024-01-21' THEN 'test'
                  ELSE 'embargo' END AS split
      FROM events),
    c AS (SELECT split, count(*) AS n_events,
                 count(DISTINCT user_id) AS n_users
          FROM s GROUP BY 1),
    o AS (SELECT count(*) AS n_overlap_users FROM (
            SELECT user_id FROM s WHERE split = 'train'
            INTERSECT
            SELECT user_id FROM s WHERE split = 'test'))
    SELECT c.split, c.n_events, c.n_users, o.n_overlap_users
    FROM c CROSS JOIN o
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series split hygiene: train strictly before the cutoff, test
    strictly after a 1-day embargo, embargo rows quarantined (the gap stops
    boundary-window features from leaking label-period information — the
    standard purged-split discipline). The audit also counts users present
    on BOTH sides — entity overlap that a purely temporal split permits and
    a reviewer must sign off on. One scan for the per-split profile plus
    one distinct-intersect on user ids."""
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        F.when(F.col("ts") < "2024-01-20", "train")
        .when(F.col("ts") >= "2024-01-21", "test")
        .otherwise("embargo")
        .alias("split"),
    )
    c = s.groupBy("split").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    o = (
        s.filter(F.col("split") == "train")
        .select("user_id")
        .intersect(s.filter(F.col("split") == "test").select("user_id"))
        .agg(F.count("*").alias("n_overlap_users"))
    )
    return c.crossJoin(F.broadcast(o))


@query(
    "kfold_balance_audit",
    oracle="""
    WITH b AS (
      SELECT lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             % 5 AS fold
      FROM documents),
    f AS (SELECT fold, lang, count(*) AS n FROM b GROUP BY 1, 2),
    ft AS (SELECT fold, CAST(sum(n) AS BIGINT) AS fold_n FROM f GROUP BY 1),
    g AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_n FROM f GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f)
    SELECT f.fold, f.lang, f.n,
           round(f.n * 1.0 / ft.fold_n, 6) AS share,
           round(g.lang_n * 1.0 / t.total, 6) AS global_share,
           round(abs(f.n * 1.0 / ft.fold_n - g.lang_n * 1.0 / t.total), 6) AS abs_dev
    FROM f JOIN ft USING (fold) JOIN g USING (lang) CROSS JOIN t
    """,
)
def kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold assignment balance: documents fall into 5 folds by the
    portable md5 hash (append-stable, engine-identical — same primitive as
    ``hash_split``), then each fold × language cell is compared against the
    global language share. Large |dev| means a fold is linguistically
    skewed and per-fold metrics won't generalize. One scan to the fold×lang
    cells; marginals broadcast back onto ≤ 5×|langs| rows."""
    docs = _t(spark, sf_dir, "documents")
    b = docs.select("lang", sampling.portable_hash("doc_id", 5).alias("fold"))
    f = b.groupBy("fold", "lang").agg(F.count("*").alias("n"))
    ft = f.groupBy("fold").agg(F.sum("n").alias("fold_n"))
    g = f.groupBy("lang").agg(F.sum("n").alias("lang_n"))
    t = f.agg(F.sum("n").alias("total"))
    share = F.col("n") / F.col("fold_n")
    gshare = F.col("lang_n") / F.col("total")
    return (
        f.join(F.broadcast(ft), "fold")
        .join(F.broadcast(g), "lang")
        .crossJoin(F.broadcast(t))
        .select(
            "fold",
            "lang",
            "n",
            F.round(share, 6).alias("share"),
            F.round(gshare, 6).alias("global_share"),
            F.round(F.abs(share - gshare), 6).alias("abs_dev"),
        )
    )


@query(
    "quality_quantile_normalized",
    oracle="""
    WITH q AS (
      SELECT doc_id, source,
             round(
               (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
               (0.5 * least(len(list_filter(tok, x -> list_contains(
                        ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                      / len(tok) * 5, 1.0)
                + 0.5 * len(list_distinct(tok)) / len(tok)),
               6) AS quality
      FROM (SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS tok
            FROM documents)),
    g AS (SELECT quality AS gv,
                 row_number() OVER (ORDER BY quality ASC, doc_id ASC) AS gi
          FROM q),
    t AS (SELECT count(*) AS n FROM q),
    s AS (SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY quality ASC, doc_id ASC) AS i,
                 count(*) OVER (PARTITION BY source) AS ns
          FROM q)
    SELECT s.doc_id, s.source, s.quality, g.gv AS normalized
    FROM s CROSS JOIN t
    JOIN g ON g.gi = (s.i * t.n + s.ns - 1) // s.ns
    """,
)
def quality_quantile_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source quality scores onto the global
    distribution (``calibrate.quantile_normalize``): a source whose scorer
    runs systematically hot or cold is re-expressed in global quantile
    units, so one cross-source threshold means the same thing everywhere —
    the step before ``source_quota_rebalance``-style filtering trusts the
    scores. All-integer rank mapping (ceil(i·N/n_s) via DIV); global
    ranking note in the operator docstring."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id", "source", text.quality_score("text").alias("quality")
    )
    out = calibrate.quantile_normalize(
        q, "quality", "source", "doc_id", out_col="normalized"
    )
    return out.select("doc_id", "source", "quality", "normalized")


@query(
    "embedding_source_calibration",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    -- round-at-12 BEFORE the decimal cast: casting an unrounded float
    -- lets each engine round differently (Spark shortest-repr vs DuckDB
    -- exact-double) — the one-ulp divergence this query's first draft hit
    mu AS (SELECT pos, CAST(sum(CAST(round(CAST(val AS DOUBLE), 12)
                                     AS DECIMAL(30,12))) AS DOUBLE)
                       / count(*) AS m
           FROM (SELECT unnest(embedding) AS val,
                        generate_subscripts(embedding, 1) AS pos FROM e)
           GROUP BY pos),
    c AS (SELECT list(m ORDER BY pos) AS cvec FROM mu),
    s AS (SELECT e.vec_id,
                 round(list_sum(list_transform(list_zip(e.embedding, c.cvec),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(e.embedding,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(c.cvec,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                       6) AS centroid_cos
          FROM e CROSS JOIN c),
    q AS (SELECT s.vec_id, d.source, s.centroid_cos
          FROM s JOIN documents d ON d.doc_id = s.vec_id),
    g AS (SELECT centroid_cos AS gv,
                 row_number() OVER (ORDER BY centroid_cos ASC, vec_id ASC) AS gi
          FROM q),
    t AS (SELECT count(*) AS n FROM q),
    sr AS (SELECT vec_id, source, centroid_cos,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY centroid_cos ASC, vec_id ASC) AS i,
                  count(*) OVER (PARTITION BY source) AS ns
           FROM q)
    SELECT sr.vec_id, sr.source, sr.centroid_cos, g.gv AS normalized
    FROM sr CROSS JOIN t
    JOIN g ON g.gi = (sr.i * t.n + sr.ns - 1) // sr.ns
    """,
)
def embedding_source_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source calibration of an EMBEDDING-derived score
    (VERDICT_r06 #8's named candidate — ``quality_quantile_normalized``'s
    twin on the vector side): each vector's cosine to the global corpus
    centroid — the "how typical is this embedding" score that drives
    outlier triage and source weighting — is quantile-normalized per
    source onto the global distribution (``calibrate.quantile_normalize``,
    all-integer rank mapping), so a crawl source whose encoder runs
    systematically hot no longer monopolizes a cross-source threshold.
    The centroid is one exploded decimal-summed mean (≤ dim rows shuffle,
    the ``kmeans_lloyd`` discipline); scoring is a broadcast of that
    1-row centroid; scores round at 6 BEFORE ranking so the rank order is
    engine-stable. Output: (vec_id, source, centroid_cos, normalized)."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = (
        emb.select(F.posexplode("embedding").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (
                # round-at-12 then cast (see the oracle comment): a direct
                # float->decimal cast rounds differently per engine
                F.sum(F.round(F.col("val").cast("double"), 12).cast("decimal(30,12)"))
                .cast("double")
                / F.count("*")
            ).alias("m")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.round(
            similarity.dot("embedding", "cvec")
            / (similarity.l2_norm("embedding") * similarity.l2_norm("cvec")),
            6,
        ).alias("centroid_cos"),
    )
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    q = scored.join(docs, "vec_id")
    out = calibrate.quantile_normalize(
        q, "centroid_cos", "source", "vec_id", out_col="normalized"
    )
    return out.select("vec_id", "source", "centroid_cos", "normalized")


def _jl_planes() -> list[list[float]]:
    """Seeded Gaussian planes shared by the engine and the oracle generator
    (same discipline as ``_lsh_planes`` — one generator, no literal drift)."""
    return similarity.seeded_planes(16, 64, seed=7)


def _jl_oracle() -> str:
    projs = []
    for p in _jl_planes():
        lits = ", ".join(repr(x) for x in p)
        projs.append(
            f"list_sum(list_transform(list_zip(embedding, [{lits}]),"
            f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        )
    proj = "[" + ",\n             ".join(projs) + "]"
    return f"""
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             {proj} AS proj
      FROM embeddings),
    b2 AS (SELECT *, sqrt(list_sum(list_transform(proj, x -> x * x))) AS pnrm FROM b),
    pairs AS (
      SELECT q.vec_id AS query_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (q.nrm * c.nrm) AS cos_full,
             list_sum(list_transform(list_zip(q.proj, c.proj), p -> p[1] * p[2]))
               / (q.pnrm * c.pnrm) AS cos_proj
      FROM (SELECT * FROM b2 WHERE vec_id < 20) q
      JOIN b2 c ON c.vec_id <> q.vec_id)
    SELECT query_id, count(*) AS n_pairs,
           round(CAST(sum(CAST(round(abs(cos_full - cos_proj), 9)
                              AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
             AS mean_abs_delta
    FROM pairs GROUP BY query_id
    """


@query("jl_projection_fidelity", oracle=_jl_oracle())
def jl_projection_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss projection audit
    (``similarity.project_planes``): cosine drift |Δcos| between full
    64-dim vectors and their 16-dim seeded-Gaussian projections, mean per
    probe — the measurement that decides whether the cheap projected index
    (4× smaller, 4× faster dot products) is usable, the same decision
    ``embedding_truncation_fidelity`` makes for Matryoshka truncation.
    Projections and norms are computed once per ROW before the broadcast
    probe join (never per pair); per-pair |Δ| rounds into a decimal mean
    so partial-agg order can't move the digits."""
    planes = _jl_planes()
    emb = _t(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        similarity.l2_norm("embedding").alias("nrm"),
        similarity.project_planes("embedding", planes).alias("proj"),
    ).withColumn("pnrm", similarity.l2_norm("proj"))
    q = b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qe"),
        F.col("nrm").alias("__qn"),
        F.col("proj").alias("__qp"),
        F.col("pnrm").alias("__qpn"),
    )
    pairs = b.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    delta = F.abs(
        similarity.dot("__qe", "embedding") / (F.col("__qn") * F.col("nrm"))
        - similarity.dot("__qp", "proj") / (F.col("__qpn") * F.col("pnrm"))
    )
    return pairs.groupBy("query_id").agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum(F.round(delta, 9).cast("decimal(30,12)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_abs_delta"),
    )


@query(
    "video_frame_samples",
    oracle="""
    WITH a AS (
      SELECT doc_id AS asset_id, text,
             octet_length(encode(text)) * 10 AS dur
      FROM documents),
    f AS (SELECT asset_id, text,
                 unnest(range(0, least(dur // 2000, 7) + 1)) AS i
          FROM a)
    SELECT asset_id, CAST(i AS INTEGER) AS frame_idx,
           CAST(i * 2000 AS BIGINT) AS t_ms,
           sha256(text || '#' || CAST(i * 2000 AS VARCHAR)) AS frame_digest
    FROM f
    """,
)
def video_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the stubbed codec boundary
    (``multimodal.sample_frames``): every 'video' asset emits up to 8
    frame rows at 2-second intervals via Arrow-batched ``mapInPandas`` —
    the payload crosses into Python once per asset and the per-frame
    'decode' is a deterministic digest, so the distributed fan-out is
    exact-oracle-checkable while the codec library is absent. Completes
    the multimodal family next to the metadata-only schedule
    (``frame_sample_plan``) and the feature extractor."""
    from ..operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.pack_binary(docs, "text", "doc_id", media_type="video")
    return multimodal.sample_frames(assets, every_ms=2000, max_frames=8)


@query(
    "neardup_keep_best_quality",
    oracle="WITH RECURSIVE "
    + _SHINGLE_DOCS_CTE
    + ","
    + _QUALITY_CTE
    + ","
    + _jaccard_reach_ctes("docs")
    + ","
    + _NEARDUP_LABELS_CTE
    + """,
    ranked AS (
      SELECT l.doc_id,
             row_number() OVER (PARTITION BY l.component_id
                                ORDER BY q.quality DESC, l.doc_id ASC) AS rn
      FROM labels l JOIN q ON q.doc_id = l.doc_id)
    SELECT d.lang, count(*) AS n_docs_kept,
           round(CAST(sum(CAST(q.quality AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
             AS mean_quality
    FROM documents d JOIN q ON q.doc_id = d.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    GROUP BY d.lang
    """,
)
def neardup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted dedup survivorship: near-dup pairs → connected
    components → keep each cluster's HIGHEST-QUALITY member (doc-id
    tiebreak), not the arbitrary min-id — the refinement real corpus
    curation ships, because near-dup clusters usually mix a clean original
    with mangled copies and min-id keeps whichever crawled first. Per-lang
    survivor counts and mean quality. Same broadcast-anti-join shape as
    ``neardup_dedup_apply``: the drop list is tiny, the corpus never
    shuffles; the quality ranking adds one |cluster-members| window."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    comp = dedup.connected_components(pairs)
    q = docs.select("doc_id", text.quality_score("text").alias("quality"))
    labeled = comp.join(
        q.select(F.col("doc_id").alias("id"), "quality"), "id"
    )
    w = Window.partitionBy("comp").orderBy(
        F.col("quality").desc(), F.col("id").asc()
    )
    drop = (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(F.col("id").alias("doc_id"))
    )
    kept = docs.join(F.broadcast(drop), "doc_id", "left_anti").join(q, "doc_id")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs_kept"),
        F.round(
            F.sum(F.col("quality").cast("decimal(30,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_quality"),
    )


@query(
    "winnowed_match_candidates",
    oracle="WITH "
    + _WINNOW_FP_CTES
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def winnowed_match_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match detection (the second half of winnowing): document pairs
    sharing ≥2 selected fingerprints — candidate plagiarism/boilerplate
    matches at ~40% of the shingle-index cost, because winnowing already
    discarded 60% of grams while keeping the shared-run guarantee. The
    fingerprint equi-join IS the blocking (same discipline as the shingle
    join in ``ngram_jaccard_neardups``); pair work is Σ|bucket|² over
    fingerprint buckets, never N²."""
    docs = _t(spark, sf_dir, "documents")
    # both self-join sides read the fingerprint table — checkpoint it once
    # instead of running the winnowing pipeline per side (see
    # winnow_match_clusters)
    fp = text.winnowed_fingerprints(
        docs, "text", "doc_id", k=3, window=4
    ).localCheckpoint()
    a = fp.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "winnow_match_clusters",
    oracle="WITH RECURSIVE "
    + _WINNOW_FP_CTES
    + """,
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fp a JOIN fp b ON a.mh = b.mh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT s, d FROM edges
              UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    labels AS (SELECT s AS id, least(s, min(d)) AS comp FROM reach GROUP BY s)
    SELECT comp AS cluster_id, count(*) AS n_docs,
           CAST(max(id) AS BIGINT) AS max_doc_id
    FROM labels GROUP BY 1
    """,
)
def winnow_match_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match CLUSTERING — the third winnowing stage (after
    ``winnowed_doc_fingerprints`` selects fingerprints and
    ``winnowed_match_candidates`` finds sharing pairs): candidate pairs →
    connected components → one row per match cluster (min-doc-id label,
    member count, max member id). This is how a plagiarism/boilerplate
    report is actually consumed — "these N documents are one shared-text
    group", not a pair soup (a 10-document template family is 45 pairs
    but one cluster). Pair generation reuses the fingerprint equi-join
    blocking; the CC loop runs on the tiny pair list (same
    min-label/pointer-jump discipline as ``neardup_components``); cluster
    stats are one grouped pass over the labels."""
    docs = _t(spark, sf_dir, "documents")
    # the fingerprint table feeds BOTH sides of the sharing self-join; no
    # exchange is reused across the sides, so without a materialization the
    # whole winnowing pipeline (tokenize → k-gram hash → window min) runs
    # twice — checkpoint the ~rows-per-doc fingerprint list once (exactly
    # the artifact a MOSS service persists)
    fp = text.winnowed_fingerprints(
        docs, "text", "doc_id", k=3, window=4
    ).localCheckpoint()
    a = fp.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("id_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("id_a", "id_b")
    )
    comp = dedup.connected_components(pairs)
    return comp.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count("*").alias("n_docs"),
        F.max("id").cast("long").alias("max_doc_id"),
    )


@query(
    "copurchase_triangle_stats",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM e0 WHERE n_orders >= 2),
    deg AS (SELECT n, count(*) AS d FROM (
              SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY 1),
    tri AS (SELECT count(*) AS t
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM edges) AS n_edges,
           tri.t AS n_triangles, w.wedges AS n_wedges,
           round(3.0 * tri.t / w.wedges, 6) AS clustering_coeff
    FROM tri CROSS JOIN w
    """,
)
def copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + global clustering coefficient over the
    co-purchase graph (parts co-occurring in ≥2 orders) — the graph-motif
    statistic behind community/boilerplate-cluster density analysis.

    Spark side uses DEGREE ORIENTATION (node-iterator++): every edge is
    directed from its lower-(degree, id) endpoint to the higher, so each
    node's out-degree is O(√m) on ANY graph and the wedge self-join costs
    Σ outdeg² ≈ m^1.5 instead of Σ deg² (which a hub node turns
    quadratic). Each triangle then has exactly ONE apex with two
    out-edges, so a single equi-join against the id-canonical edge set
    counts it once. The oracle states the naive a<b<c definition —
    triangle count is orientation-invariant, so the two must agree
    exactly. All counts integer; one final double division."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    return graph.triangle_stats(edges)


_LPA_EDGES_SQL = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM e0 WHERE n_orders >= 2),
    sym AS (SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges),
    seeds AS (SELECT p_partkey AS id, p_brand AS label FROM part
              WHERE p_partkey % 3 = 0)
"""

# Two rounds of seeded label propagation over `sym` from `seeds`: each
# unlabeled node takes its labeled neighbours' majority label (smallest on
# ties), `p1` then `p2`.
_LPA_ROUNDS_SQL = """
    v1 AS (SELECT s.src, l.label, count(*) AS n
           FROM sym s JOIN seeds l ON l.id = s.dst
           WHERE s.src NOT IN (SELECT id FROM seeds)
           GROUP BY 1, 2),
    p1 AS (SELECT src AS id, label FROM (
             SELECT src, label,
                    row_number() OVER (PARTITION BY src
                                       ORDER BY n DESC, label ASC) AS rn
             FROM v1) WHERE rn = 1),
    l1 AS (SELECT id, label FROM seeds UNION ALL SELECT id, label FROM p1),
    v2 AS (SELECT s.src, l.label, count(*) AS n
           FROM sym s JOIN l1 l ON l.id = s.dst
           WHERE s.src NOT IN (SELECT id FROM l1)
           GROUP BY 1, 2),
    p2 AS (SELECT src AS id, label FROM (
             SELECT src, label,
                    row_number() OVER (PARTITION BY src
                                       ORDER BY n DESC, label ASC) AS rn
             FROM v2) WHERE rn = 1)"""

# The 3-core peel over `sym` (needs WITH RECURSIVE): `chk` holds the last
# round's edges with both endpoints' degrees; the core is nonempty iff
# every row of `chk` has both >= 3.
_KCORE_PEEL_SQL = """
    peel AS (
      SELECT src, dst, 0 AS it FROM sym
      UNION ALL
      SELECT src, dst, it + 1 FROM (
          SELECT src, dst, it, total,
                 sum(CASE WHEN ds >= 3 AND dd >= 3 THEN 1 ELSE 0 END)
                   OVER () AS n_surv,
                 ds, dd
          FROM (
            SELECT src, dst, it,
                   count(*) OVER (PARTITION BY src) AS ds,
                   count(*) OVER (PARTITION BY dst) AS dd,
                   count(*) OVER () AS total
            FROM peel))
      WHERE ds >= 3 AND dd >= 3 AND n_surv < total
    ),
    last AS (SELECT src, dst FROM peel WHERE it = (SELECT max(it) FROM peel)),
    chk AS (SELECT src, dst,
                   count(*) OVER (PARTITION BY src) AS ds,
                   count(*) OVER (PARTITION BY dst) AS dd
            FROM last)"""


@query(
    "copurchase_local_clustering",
    oracle="WITH " + _LPA_EDGES_SQL + """,
    deg AS (SELECT n, count(*) AS d FROM (
              SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY 1),
    tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (SELECT unnest([a, b, c]) AS n FROM tri),
    tcnt AS (SELECT n, count(*) AS t FROM corners GROUP BY n)
    SELECT deg.n AS node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(coalesce(tcnt.t, 0) AS BIGINT) AS triangles,
           round(CAST(2 * coalesce(tcnt.t, 0) AS DOUBLE)
                 / (deg.d * (deg.d - 1)), 6) AS local_cc
    FROM deg LEFT JOIN tcnt ON tcnt.n = deg.n
    WHERE deg.d >= 2
    ORDER BY local_cc DESC, degree DESC, node ASC LIMIT 20
    """,
)
def copurchase_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficients over the co-purchase graph
    (``graph.local_clustering``) — top-20 most-clustered parts by
    ``2·T(v)/(d(v)(d(v)−1))`` with a full (coeff desc, degree desc, id asc)
    total order. The global coefficient (``copurchase_triangle_stats``)
    says how clique-ish the graph is overall; the per-node view is what
    ego-network community detection and recommendation diversity audits
    actually consume. Spark side reuses the degree-oriented m^1.5 wedge
    enumeration and credits each triangle's three corners with one explode
    + hash rollup; the oracle states the naive a<b<c definition, which must
    agree exactly because the per-corner credit is orientation-invariant."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    cc = graph.local_clustering(edges)
    return cc.orderBy(
        F.col("local_cc").desc(), F.col("degree").desc(), F.col("node").asc()
    ).limit(20)


@query(
    "brand_label_propagation",
    oracle="WITH "
    + _LPA_EDGES_SQL
    + ","
    + _LPA_ROUNDS_SQL
    + """
    SELECT id AS p_partkey, label, 1 AS round FROM p1
    UNION ALL
    SELECT id, label, 2 FROM p2
    """,
)
def brand_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised brand imputation (``graph.propagate_labels``): a
    third of parts keep their brand as seeds; the rest inherit the
    MAJORITY brand among labeled co-purchase neighbors over two
    synchronous rounds (clamped seeds, lexicographic tie-break — execution
    -order independent). The category-imputation pass a catalog team runs
    when upstream attributes are sparse. Each round is one symmetric-edge
    join + grouped vote + windowed argmax, all key-partitioned — no driver
    convergence loop; the oracle unrolls both rounds as CTEs."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 3 == 0)
        .select(F.col("p_partkey").alias("id"), F.col("p_brand").alias("label"))
    )
    out = graph.propagate_labels(edges, seeds, rounds=2)
    return out.filter(F.col("round") > 0).select(
        F.col("id").alias("p_partkey"), "label", F.col("round").cast("int").alias("round")
    )


@query(
    "embedding_knn_label_spread",
    oracle="""
    WITH sub AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 200),
    nrm AS (SELECT vec_id, embedding, label,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nf
            FROM sub),
    cos AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (a.nf * b.nf) AS c
            FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
    knn AS (SELECT qa, qb FROM (
              SELECT qa, qb,
                     row_number() OVER (PARTITION BY qa
                                        ORDER BY c DESC, qb ASC) AS rn
              FROM cos) WHERE rn <= 5),
    edges AS (SELECT DISTINCT least(qa, qb) AS u, greatest(qa, qb) AS v FROM knn),
    sym AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
    seeds AS (SELECT vec_id AS id, label FROM sub WHERE vec_id % 4 = 0),"""
    + _LPA_ROUNDS_SQL
    + """
    SELECT id AS vec_id, label, 1 AS round FROM p1
    UNION ALL
    SELECT id, label, 2 FROM p2
    """,
)
def embedding_knn_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation over the embeddings kNN GRAPH (the PLAN_r06 item:
    ``brand_label_propagation``'s machinery, driven by geometry instead of
    co-purchase): the 5-NN cosine graph over a bounded probe subset is
    symmetrized into undirected edges, a quarter of the vectors keep their
    cluster label as clamped seeds, and the rest inherit the majority
    neighbor label over two synchronous rounds (``graph.propagate_labels``
    — lexicographic tie-break, execution-order independent). This is
    semi-supervised label densification for a partially-labeled embedding
    corpus. The all-pairs kNN build on the ≤200-vector subset is the
    declared exactness baseline (same contract as
    ``knn_label_disagreement``); at 100 TB the graph comes from the
    LSH/IVF candidate paths and the propagation rounds — key-partitioned
    join + vote + windowed argmax — are unchanged."""
    from ..operators import graph

    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.filter(F.col("vec_id") < 200)
    nn = similarity.cosine_topk_bruteforce(
        sub.select("vec_id", "embedding"), sub.select("vec_id", "embedding"), k=5
    )
    edges = nn.select(
        F.least("query_id", "neighbor_id").alias("u"),
        F.greatest("query_id", "neighbor_id").alias("v"),
    ).distinct()
    seeds = sub.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("id"), "label"
    )
    out = graph.propagate_labels(edges, seeds, rounds=2)
    return out.filter(F.col("round") > 0).select(
        F.col("id").alias("vec_id"), "label", F.col("round").cast("int").alias("round")
    )


@query(
    "copurchase_kcore",
    oracle="WITH RECURSIVE "
    + _LPA_EDGES_SQL
    + """,
    -- iterative peel: each round keeps edges whose BOTH endpoints have
    -- symmetric degree >= 3, and recurses only while something was removed
    -- (n_surv < total). At termination the last iteration is either fully
    -- in-core or the core is empty — the final all-survive check below
    -- disambiguates (a round that removes the last edges emits nothing, so
    -- "last emitted" alone would over-report)."""
    + _KCORE_PEEL_SQL
    + """
    SELECT src AS node, count(*) AS core_deg FROM chk
    WHERE (SELECT min(CASE WHEN ds >= 3 AND dd >= 3 THEN 1 ELSE 0 END)
           FROM chk) = 1
    GROUP BY 1
    """,
)
def copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-CORE of the co-purchase graph (``graph.kcore``): iteratively
    peel parts with fewer than 3 surviving co-purchase partners — what
    remains is the dense "always bought together" backbone that survives
    arbitrary removal of weakly-attached parts (every member keeps ≥3
    in-core neighbors by construction). The density filter that runs
    before community detection on any large graph. Spark side is the
    Pregel peel loop (degree agg + two anti-joins on (src, dst) longs,
    localCheckpoint lineage truncation, one convergence scalar per round
    — peel-depth rounds total); the oracle replays the identical peel as
    a recursive CTE whose termination/empty-core subtlety is documented
    inline. Output: (node, core_deg) for the surviving parts."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    return graph.kcore(edges, 3)


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled k-truss peel replay (the Lloyd-iteration discipline — a
    recursive CTE can't express per-round triangle support, which needs
    three references to the recursive relation): each round recomputes
    every surviving edge's common-neighbor count over the previous round's
    edge set and drops edges below k−2. The peel fixpoint is stable, so
    unrolling MORE rounds than the graph needs is a no-op; all three SFs
    converge in 2 rounds and the oracle unrolls ``rounds`` for margin.
    A dataset whose peel cascade exceeds ``rounds`` would otherwise emit a
    non-fixpoint edge set and silently diverge from ``graph.ktruss`` (which
    iterates to fixpoint), so the final select asserts the last two rounds
    agree (edge sets only shrink, so count equality == set equality) and
    raises via DuckDB ``error()`` if the unroll was too shallow."""
    ctes = ",\n    ke0 AS MATERIALIZED (SELECT u, v FROM edges)"
    prev = "ke0"
    for i in range(1, rounds + 1):
        ctes += f""",
    tsym{i} AS (SELECT u AS a, v AS b FROM {prev}
                UNION ALL SELECT v, u FROM {prev}),
    tsup{i} AS (SELECT e.u, e.v, count(*) AS s
                FROM {prev} e
                JOIN tsym{i} x ON x.a = e.u
                JOIN tsym{i} y ON y.a = e.v AND y.b = x.b
                GROUP BY e.u, e.v),
    ke{i} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e
      LEFT JOIN tsup{i} s ON s.u = e.u AND s.v = e.v
      WHERE coalesce(s.s, 0) >= {k - 2})"""
        prev = f"ke{i}"
    return (
        "WITH "
        + _LPA_EDGES_SQL
        + ctes
        + f""",
    tsymf AS (SELECT u AS a, v AS b FROM {prev}
              UNION ALL SELECT v, u FROM {prev}),
    tsupf AS (SELECT e.u, e.v, count(*) AS s
              FROM {prev} e
              JOIN tsymf x ON x.a = e.u
              JOIN tsymf y ON y.a = e.v AND y.b = x.b
              GROUP BY e.u, e.v),
    fixchk AS (SELECT CASE
                 WHEN (SELECT count(*) FROM ke{rounds - 1})
                    = (SELECT count(*) FROM ke{rounds}) THEN 1
                 ELSE error('ktruss oracle: {rounds}-round unroll did not '
                            'reach the peel fixpoint — raise rounds')
               END AS ok)
    SELECT e.u, e.v, coalesce(s.s, 0) AS support
    FROM {prev} e LEFT JOIN tsupf s ON s.u = e.u AND s.v = e.v
    WHERE (SELECT ok FROM fixchk) = 1
    """
    )


@query("copurchase_ktruss", oracle=_ktruss_oracle(3, 6))
def copurchase_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-TRUSS of the co-purchase graph (``graph.ktruss``): iteratively
    peel every edge in fewer than k−2 = 1 surviving triangles — the
    EDGE-level density filter one notch stronger than ``copurchase_kcore``
    (a k-truss is contained in the (k−1)-core; what survives is the
    triangle-reinforced backbone community detection seeds from). Spark
    side is the kcore peel discipline applied to edges: per round ONE
    degree-oriented wedge join computes every edge's support (m^1.5,
    hub-safe — the same ``_closed_wedges`` as ``triangle_stats``), one
    left-join filter drops light edges, localCheckpoint truncates lineage,
    one convergence scalar per round. The oracle unrolls 6 peel rounds
    (support needs three references to the evolving edge set, beyond a
    recursive CTE) — the fixpoint is stable so extra rounds are no-ops;
    all SFs converge in 2. Output: surviving edges with their in-truss
    support."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    return graph.ktruss(edges, 3)


@query(
    "copurchase_pagerank",
    oracle="WITH RECURSIVE " + _LPA_EDGES_SQL + """,
    deg AS (SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM deg),
    pr AS (
      SELECT node, CAST(1000000000000 // nn AS BIGINT) AS rank, 0 AS it
      FROM deg CROSS JOIN n
      UNION ALL
      SELECT s.dst AS node,
             CAST((15 * (1000000000000 // n.nn)) // 100
                  + (85 * sum(p.rank // d.outdeg)) // 100 AS BIGINT) AS rank,
             p.it + 1 AS it
      FROM pr p
      JOIN deg d ON d.node = p.node
      JOIN sym s ON s.src = p.node
      CROSS JOIN n
      WHERE p.it < 5
      GROUP BY s.dst, p.it, n.nn
    )
    SELECT node, rank AS rank_micro FROM pr WHERE it = 5
    """,
)
def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the co-purchase graph (``graph.pagerank_fixed``): 5
    synchronous power-iteration rounds, damping 0.85, in ALL-INTEGER
    micro-unit arithmetic (total mass 10^12) so the oracle's recursive CTE
    replays every floor division exactly — float PageRank cannot be
    hash-gated because neighbor-sum order perturbs the last ulp. The
    centrality ranking a merchandiser reads as "which parts anchor the
    catalog". Per round: one (node, rank) join against the out-edge list +
    one grouped sum — (long, long) shuffles only, localCheckpoint lineage
    truncation; the 1-row node-count broadcast is the verified scalar
    nested-loop class."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    return graph.pagerank_fixed(edges, iters=5)


@query(
    "copurchase_weighted_pagerank",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v, CAST(n_orders AS BIGINT) AS w FROM e0
              WHERE n_orders >= 2),
    sym AS (SELECT u AS src, v AS dst, w FROM edges
            UNION ALL SELECT v, u, w FROM edges),
    deg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wdeg
            FROM sym GROUP BY 1),
    n AS (SELECT count(*) AS nn FROM deg),
    pr AS (
      SELECT node, CAST(1000000000000 // nn AS BIGINT) AS rank, 0 AS it
      FROM deg CROSS JOIN n
      UNION ALL
      SELECT s.dst AS node,
             CAST((15 * (1000000000000 // n.nn)) // 100
                  + (85 * sum((p.rank * s.w) // d.wdeg)) // 100 AS BIGINT)
               AS rank,
             p.it + 1 AS it
      FROM pr p
      JOIN deg d ON d.node = p.node
      JOIN sym s ON s.src = p.node
      CROSS JOIN n
      WHERE p.it < 5
      GROUP BY s.dst, p.it, n.nn
    )
    SELECT node, rank AS rank_micro FROM pr WHERE it = 5
    """,
)
def copurchase_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank on the co-purchase graph
    (``graph.pagerank_weighted_fixed``): rank mass splits across a part's
    neighbors proportionally to the CO-OCCURRENCE COUNT, so centrality
    follows purchase volume, not mere adjacency — a part co-bought 50×
    with a hub outranks one co-bought twice, the distinction the
    unweighted ``copurchase_pagerank`` can't make. Same all-integer
    micro-unit discipline (multiply-before-floor-divide keeps every round
    bit-replayable in the oracle's recursive CTE; rank·w < 10^18 stays in
    bigint). Per round: one (node, rank) join against the weighted
    out-edge list + one grouped sum — (long, long, long) shuffles only."""
    from ..operators import graph

    edges = (
        _copurchase_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
    )
    return graph.pagerank_weighted_fixed(edges, iters=5)


@query(
    "copurchase_score",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    sym AS (SELECT u AS src, v AS dst, CAST(n_orders AS BIGINT) AS w FROM e0
            UNION ALL SELECT v, u, CAST(n_orders AS BIGINT) FROM e0),
    peel AS (
      SELECT src, dst, w, 0 AS it FROM sym
      UNION ALL
      SELECT src, dst, w, it + 1 FROM (
          SELECT src, dst, w, it, total,
                 sum(CASE WHEN ds >= 80 AND dd >= 80 THEN 1 ELSE 0 END)
                   OVER () AS n_surv,
                 ds, dd
          FROM (
            SELECT src, dst, w, it,
                   sum(w) OVER (PARTITION BY src) AS ds,
                   sum(w) OVER (PARTITION BY dst) AS dd,
                   count(*) OVER () AS total
            FROM peel))
      WHERE ds >= 80 AND dd >= 80 AND n_surv < total
    ),
    last AS (SELECT src, dst, w FROM peel
             WHERE it = (SELECT max(it) FROM peel)),
    chk AS (SELECT src, dst, w,
                   sum(w) OVER (PARTITION BY src) AS ds,
                   sum(w) OVER (PARTITION BY dst) AS dd
            FROM last)
    SELECT src AS node, count(*) AS core_deg,
           CAST(sum(w) AS BIGINT) AS core_weight
    FROM chk
    WHERE (SELECT min(CASE WHEN ds >= 80 AND dd >= 80 THEN 1 ELSE 0 END)
           FROM chk) = 1
    GROUP BY 1
    """,
)
def copurchase_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s=80 S-CORE of the FULL weighted co-purchase graph
    (``graph.s_core``): peel parts whose total co-purchase VOLUME
    (strength = Σ co-occurrence counts over surviving partners) is
    < 80 — the weighted companion to ``copurchase_kcore``, which this
    graph makes genuinely different: weight-1 edges (dropped entirely by
    the k-core's ≥2 filter) contribute volume here, and a node with few
    heavy partners survives where a count filter kills it. Same
    recursive-peel oracle with the empty-core termination
    disambiguation; the final all-survive check is on STRENGTH. Output:
    (node, core_deg, core_weight) — non-vacuous at every SF (187/200,
    1889/2000, 18891/20000 nodes survive)."""
    from ..operators import graph

    edges = (
        _copurchase_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
    )
    return graph.s_core(edges, 80)


@query(
    "kcore_incremental_maintenance",
    oracle="WITH RECURSIVE "
    + _LPA_EDGES_SQL
    + """,
    -- full-recompute oracle: the peel over edges built in ONE pass, plus
    -- each surviving node's total co-purchase weight from the same table.
    -- The engine builds the weighted edge table INCREMENTALLY (per-stratum
    -- pair counts merged via combine_rollups), so a green row certifies
    -- merge == recompute for the graph-maintenance path."""
    + _KCORE_PEEL_SQL
    + """,
    core AS (SELECT src AS node, count(*) AS core_deg FROM chk
             WHERE (SELECT min(CASE WHEN ds >= 3 AND dd >= 3 THEN 1 ELSE 0 END)
                    FROM chk) = 1
             GROUP BY 1),
    wt AS (SELECT node, CAST(sum(n_orders) AS BIGINT) AS copurchase_weight
           FROM (SELECT u AS node, n_orders FROM e0 WHERE n_orders >= 2
                 UNION ALL
                 SELECT v, n_orders FROM e0 WHERE n_orders >= 2)
           GROUP BY 1)
    SELECT c.node, c.core_deg, w.copurchase_weight
    FROM core c JOIN wt w ON w.node = c.node
    """,
)
def kcore_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental GRAPH maintenance feeding the k-core
    (VERDICT_r06 #5): the weighted co-purchase edge table is built the way
    a daily 100 TB pipeline would — per-stratum pair counts (here 4
    orderkey strata standing in for daily partitions; an order's pairs
    fall wholly inside one stratum, so counts are mergeable partials)
    merged via ``agg.combine_rollups`` instead of recomputed — then the
    3-core peel runs on the merged table, and each surviving node carries
    its total co-purchase weight FROM THE MERGED COUNTS. The oracle is the
    single-pass full recompute, so the green row certifies
    merge == recompute end-to-end: any count lost or double-merged flips
    the ≥2 edge filter, the peel, or the weight column. Output: (node,
    core_deg, copurchase_weight).

    Plan note: the per-stratum partials come out of ONE grouped pass
    (stratum in the group key — each partial is still computed only from
    its own stratum's rows, exactly as 4 independent daily jobs would),
    checkpointed once, then split and handed to ``combine_rollups`` — not
    4 separate corpus scans."""
    from ..operators import agg as agg_ops
    from ..operators import graph

    partials = (
        _copurchase_pairs(spark, sf_dir)
        # stratum = orderkey band: the SAME (u,v) pair co-occurring in
        # orders from different strata gets separate partial counts that
        # the merge must genuinely re-add (stratifying by a function of
        # (u,v) would make the merge vacuous — every key in one stratum)
        .groupBy((F.col("ok") % 4).alias("__stratum"), "u", "v")
        .agg(F.count("*").alias("n_orders"))
        .localCheckpoint()
    )
    merged = agg_ops.combine_rollups(
        [
            partials.filter(F.col("__stratum") == s).drop("__stratum")
            for s in range(4)
        ],
        ("u", "v"),
        sum_cols=("n_orders",),
    )
    edges = merged.filter(F.col("n_orders") >= 2)
    core = graph.kcore(edges.select("u", "v"), 3)
    wt = (
        edges.select(F.col("u").alias("node"), "n_orders")
        .unionAll(edges.select(F.col("v").alias("node"), "n_orders"))
        .groupBy("node")
        .agg(F.sum("n_orders").alias("copurchase_weight"))
    )
    return core.join(wt, "node").select("node", "core_deg", "copurchase_weight")


@query(
    "k_anonymity_audit",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment,
             -- band on DOUBLE in both engines: decimal-division scale rules
             -- differ across engines; double is exact at the only floor
             -- boundaries that exist (whole multiples of 1000.00)
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS bal_band,
             count(*) AS n
      FROM customer GROUP BY 1, 2, 3)
    SELECT count(*) AS n_classes,
           CAST(min(n) AS BIGINT) AS min_class_size,
           CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_classes,
           CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             AS n_risky_rows,
           round(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
             AS risky_row_share
    FROM cls
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market segment,
    1000-unit balance band): an equivalence class smaller than k=5 means
    those customers are re-identifiable by joining public attributes — the
    release-gate check a privacy review runs before training data or
    analytics extracts leave the building (companion to ``pii_redaction``,
    which handles direct identifiers; this handles indirect ones). One
    grouped count plus a one-row summary — min class size, risky-class and
    risky-row counts, and the share of rows needing generalization or
    suppression. All-integer until the final share division."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count("*").alias("n"))
    risky_rows = F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0))
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.min("n").alias("min_class_size"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0)).alias("n_risky_classes"),
        risky_rows.alias("n_risky_rows"),
        F.round(risky_rows * 1.0 / F.sum("n"), 6).alias("risky_row_share"),
    )


@query(
    "brand_parts_ppr",
    oracle="WITH RECURSIVE " + _LPA_EDGES_SQL + """,
    deg AS (SELECT src AS node, count(*) AS outdeg FROM sym GROUP BY 1),
    sd AS (SELECT DISTINCT d.node FROM deg d
           JOIN part p ON p.p_partkey = d.node WHERE p.p_brand = 'Brand#13'),
    ns AS (SELECT count(*) AS n FROM sd),
    pr AS (
      SELECT d.node,
             CAST(CASE WHEN s.node IS NOT NULL
                       THEN 1000000000000 // ns.n ELSE 0 END AS BIGINT) AS rank,
             0 AS it
      FROM deg d LEFT JOIN sd s ON s.node = d.node CROSS JOIN ns
      UNION ALL
      SELECT d.node,
             CAST(CASE WHEN s.node IS NOT NULL
                       THEN (15 * (1000000000000 // ns.n)) // 100 ELSE 0 END
                  + (85 * coalesce(c.sm, 0)) // 100 AS BIGINT) AS rank,
             (SELECT max(it) FROM pr) + 1 AS it
      FROM deg d
      LEFT JOIN (SELECT s2.dst AS node, sum(p.rank // dd.outdeg) AS sm
                 FROM pr p
                 JOIN deg dd ON dd.node = p.node
                 JOIN sym s2 ON s2.src = p.node
                 GROUP BY s2.dst) c ON c.node = d.node
      LEFT JOIN sd s ON s.node = d.node
      CROSS JOIN ns
      WHERE (SELECT max(it) FROM pr) < 5
    )
    SELECT node, rank AS rank_micro FROM pr WHERE it = 5
    """,
)
def brand_parts_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank (``graph.personalized_pagerank_fixed``):
    teleport mass restarts at one brand's parts instead of uniformly, so
    the stationary distribution ranks the whole catalog by co-purchase
    proximity TO THAT BRAND — the "customers who buy this brand also
    anchor on…" recommendation seed that global ``copurchase_pagerank``
    cannot express. Same all-integer micro-unit discipline (the oracle's
    recursive CTE replays every floor division; out-of-graph seed parts
    are ignored on both sides), same per-round join+sum shape; the only
    additions are a broadcast seed semi-join and a LEFT join so
    zero-mass nodes stay present every round."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    seeds = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select(
        F.col("p_partkey").alias("id")
    )
    return graph.personalized_pagerank_fixed(edges, seeds, iters=5)


@query(
    "brand_parts_hop_distance",
    oracle="""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM e0 WHERE n_orders >= 2),
    sym AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
    nodes AS (SELECT DISTINCT src AS id FROM sym),
    sd AS (SELECT n.id FROM nodes n JOIN part p ON p.p_partkey = n.id
           WHERE p.p_brand = 'Brand#13'),
    reach(id, hops) AS (
      SELECT id, 0 FROM sd
      UNION
      SELECT s.dst, r.hops + 1 FROM reach r JOIN sym s ON s.src = r.id
      WHERE r.hops < 4),
    dist AS (SELECT id, min(hops) AS hops FROM reach GROUP BY id)
    SELECT CAST(coalesce(d.hops, -1) AS INTEGER) AS hops,
           CAST(count(*) AS BIGINT) AS n_parts
    FROM nodes n LEFT JOIN dist d ON d.id = n.id
    GROUP BY 1
    """,
)
def brand_parts_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS proximity (``graph.multi_source_bfs``): every part's
    minimum co-purchase hop count to the nearest Brand#13 part, bounded at
    4 hops, reported as a reachability histogram (−1 = outside the 4-hop
    ball). The DISTANCE companion to ``brand_parts_ppr`` (which ranks the
    same neighborhood by stationary mass): level-synchronous frontier
    rounds, each one key-partitioned frontier⋈edges join + distinct +
    anti-join against the settled set — per-round work proportional to the
    frontier boundary, never the graph. Every hop level 0–4 AND the
    unreached class are populated at every SF. Oracle = min-hop recursive
    CTE over the same symmetric edge list (UNION recursion keeps the
    working set bounded by |nodes|×hops, not walks)."""
    from ..operators import graph

    edges = _copurchase_edges(spark, sf_dir)
    seeds = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select(
        F.col("p_partkey").alias("id")
    )
    dist = graph.multi_source_bfs(edges, seeds, max_hops=4)
    return dist.groupBy("hops").agg(F.count("*").alias("n_parts"))



# The bounded embedding subset (vec_id < 300) and its L2 norms `nf`.
_SUB300_NRM_CTES = """
    WITH RECURSIVE sub AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    nrm AS (SELECT vec_id, embedding,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nf
            FROM sub)"""

# Mutual-reachability inputs of similarity.mutual_reachability_clusters
# (k = 4): all-pairs cosine distance `dist` and 4th-NN core distance `core`.
_MUTUAL_REACH_CORE_CTES = (
    _SUB300_NRM_CTES
    + ","
    + """
    dist AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
                    1.0 - list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                          / (a.nf * b.nf) AS d
             FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id),
    core AS (SELECT qa AS id, d AS cd FROM dist
             QUALIFY row_number() OVER (PARTITION BY qa
                                        ORDER BY d ASC, qb ASC) = 4)"""
)

# Flat eps = 0.70 mutual-reach graph and its min-id component `labels`.
_MUTUAL_REACH_FLAT_CTES = """
    e AS (SELECT d.qa, d.qb
          FROM dist d JOIN core ca ON ca.id = d.qa
                      JOIN core cb ON cb.id = d.qb
          WHERE d.qa < d.qb AND greatest(d.d, ca.cd, cb.cd) <= 0.70),
    edges AS (SELECT qa AS s, qb AS t FROM e UNION SELECT qb, qa FROM e),
    reach AS (SELECT s, t FROM edges
              UNION SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
    labels AS (SELECT s AS id, least(s, min(t)) AS comp FROM reach GROUP BY s)"""

# Each pair's mutual-reachability distance `mr`.
_MUTUAL_REACH_MRE_CTE = """
    mre AS (SELECT d.qa, d.qb, greatest(d.d, ca.cd, cb.cd) AS mr
            FROM dist d JOIN core ca ON ca.id = d.qa
                        JOIN core cb ON cb.id = d.qb
            WHERE d.qa < d.qb)"""

# The ANN leg: IVF candidate pairs (centroids vec_id % 25 == 0, 4 probes
# per point) and their distances and core distances.
_MUTUAL_REACH_ANN_CTES = """
    cent AS (SELECT vec_id AS cent_id, embedding AS cvec, nf AS cnf
             FROM nrm WHERE vec_id % 25 = 0),
    probes AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY pcos DESC, cent_id ASC) AS rn
        FROM (
          SELECT n.vec_id, cent.cent_id,
                 list_sum(list_transform(list_zip(n.embedding, cent.cvec),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (n.nf * cent.cnf) AS pcos
          FROM nrm n CROSS JOIN cent)
      ) WHERE rn <= 4),
    cand AS (SELECT DISTINCT pa.vec_id AS qa, pb.vec_id AS qb
             FROM probes pa JOIN probes pb ON pa.cell = pb.cell
             WHERE pa.vec_id <> pb.vec_id),
    dist_a AS (SELECT d.qa, d.qb, d.d
               FROM dist d JOIN cand c ON c.qa = d.qa AND c.qb = d.qb),
    core_a AS (SELECT qa AS id, d AS cd FROM dist_a
               QUALIFY row_number() OVER (PARTITION BY qa
                                          ORDER BY d ASC, qb ASC) = 4)"""

# The hierarchy's four fixed eps levels.
_MUTUAL_REACH_LEVELS_CTE = """
    lv(lvl, eps) AS (VALUES (0, CAST('0.66' AS DOUBLE)),
                            (1, CAST('0.70' AS DOUBLE)),
                            (2, CAST('0.74' AS DOUBLE)),
                            (3, CAST('0.78' AS DOUBLE)))"""

# Min-id components of the level-composite graph `e`, keyed by node.
_LEVEL_LABELS_CTES = """
    edges AS (SELECT s, t FROM e UNION SELECT t, s FROM e),
    reach AS (SELECT s, t FROM edges
              UNION SELECT r.s, e2.t FROM reach r JOIN edges e2 ON r.t = e2.s),
    labels AS (SELECT s AS node, least(s, min(t)) AS comp
               FROM reach GROUP BY s)"""


@query(
    "embedding_dbscan_clusters",
    oracle=_SUB300_NRM_CTES
    + """,
    near AS (SELECT a.vec_id AS qa, b.vec_id AS qb
             FROM nrm a JOIN nrm b ON a.vec_id <> b.vec_id
             WHERE 1.0 - list_sum(list_transform(list_zip(a.embedding, b.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                         / (a.nf * b.nf) <= 0.70),
    deg AS (SELECT s.vec_id AS id, coalesce(n.nb, 0) AS nb
            FROM sub s LEFT JOIN (SELECT qa, count(*) AS nb
                                  FROM near GROUP BY 1) n ON n.qa = s.vec_id),
    core AS (SELECT id FROM deg WHERE nb + 1 >= 4),
    ce AS (SELECT n.qa AS s, n.qb AS d FROM near n
           JOIN core a ON n.qa = a.id JOIN core b ON n.qb = b.id),
    reach AS (SELECT s, d FROM ce
              UNION SELECT r.s, e.d FROM reach r JOIN ce e ON r.d = e.s),
    comp AS (SELECT c.id,
                    CAST(coalesce(least(c.id, m.mn), c.id) AS BIGINT) AS cluster
             FROM core c LEFT JOIN (SELECT s, min(d) AS mn
                                    FROM reach GROUP BY s) m ON m.s = c.id),
    border AS (SELECT n.qa AS id, min(comp.cluster) AS cluster
               FROM near n JOIN comp ON comp.id = n.qb
               WHERE n.qa NOT IN (SELECT id FROM core)
               GROUP BY 1)
    SELECT id, cluster, 'core' AS role FROM comp
    UNION ALL
    SELECT id, cluster, 'border' FROM border
    UNION ALL
    SELECT s.vec_id AS id, CAST(-1 AS BIGINT) AS cluster, 'noise'
    FROM sub s
    WHERE s.vec_id NOT IN (SELECT id FROM comp)
      AND s.vec_id NOT IN (SELECT id FROM border)
    """,
)
def embedding_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering over embeddings
    (``similarity.dbscan_cosine``, eps = 0.70 cosine distance,
    minPts = 4) — the clustering family member k-means can't replace:
    no preset k, arbitrary-shape clusters, and an explicit NOISE class
    (the outlier embeddings a curation pass quarantines rather than
    force-assigns). Deterministic variant: shared border points attach
    to the SMALLEST adjacent cluster id (classic DBSCAN leaves that
    scan-order-dependent, which would be un-replayable), clusters are
    labeled by minimum member id via ``connected_components`` on the
    core–core eps-graph, replayed in the oracle as a transitive-closure
    recursive CTE. All-pairs distances on the bounded subset are the
    declared exactness baseline; the 100 TB path feeds the same
    downstream from LSH/IVF candidate pairs."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return similarity.dbscan_cosine(
        emb.select("vec_id", "embedding"), eps=0.70, min_pts=4
    ).select(F.col("id"), "cluster", "role")


@query(
    "embedding_mutual_reach_clusters",
    oracle=_MUTUAL_REACH_CORE_CTES
    + ","
    + _MUTUAL_REACH_FLAT_CTES
    + """
    SELECT s.vec_id AS id,
           CAST(coalesce(l.comp, -1) AS BIGINT) AS cluster,
           round(c.cd, 6) AS core_dist
    FROM sub s LEFT JOIN labels l ON l.id = s.vec_id
               LEFT JOIN core c ON c.id = s.vec_id
    """,
)
def embedding_mutual_reach_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN*-style density clustering over the MUTUAL REACHABILITY
    distance (``similarity.mutual_reachability_clusters``, k = 4,
    eps = 0.70): every pairwise cosine distance is inflated to at least
    both endpoints' core distances (distance to the 4th nearest other
    point) before the eps-graph is built, so sparse-region points repel
    and the single-link "noise bridge" failure mode of plain DBSCAN
    (``embedding_dbscan_clusters``) dissolves — the standard robustness
    upgrade (VERDICT_r06 #4's named candidate). Min-id component labels,
    isolated points −1, per-point core distance in the output. Same
    declared bounded-subset baseline contract as the DBSCAN query; at
    scale the pair list comes from LSH/IVF candidates instead."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return similarity.mutual_reachability_clusters(
        emb.select("vec_id", "embedding"), k=4, eps=0.70
    )


@query(
    "embedding_mutual_reach_ann",
    oracle=_MUTUAL_REACH_CORE_CTES
    + ","
    + _MUTUAL_REACH_FLAT_CTES
    + ","
    + _MUTUAL_REACH_ANN_CTES
    + """,
    ea AS (SELECT d.qa, d.qb
           FROM dist_a d JOIN core_a ca ON ca.id = d.qa
                         JOIN core_a cb ON cb.id = d.qb
           WHERE d.qa < d.qb AND greatest(d.d, ca.cd, cb.cd) <= 0.70),
    edges_a AS (SELECT qa AS s, qb AS t FROM ea UNION SELECT qb, qa FROM ea),
    reach_a AS (SELECT s, t FROM edges_a
                UNION SELECT r.s, e2.t
                FROM reach_a r JOIN edges_a e2 ON r.t = e2.s),
    labels_a AS (SELECT s AS id, least(s, min(t)) AS comp
                 FROM reach_a GROUP BY s),
    per AS (
      SELECT s.vec_id AS id,
             CAST(coalesce(l.comp, -1) AS BIGINT) AS ce,
             round(c.cd, 6) AS cde,
             CAST(coalesce(la.comp, -1) AS BIGINT) AS ca,
             round(cca.cd, 6) AS cda
      FROM sub s LEFT JOIN labels l ON l.id = s.vec_id
                 LEFT JOIN core c ON c.id = s.vec_id
                 LEFT JOIN labels_a la ON la.id = s.vec_id
                 LEFT JOIN core_a cca ON cca.id = s.vec_id)
    SELECT count(*) AS n_points,
           count(CASE WHEN ca = ce THEN 1 END) AS label_matches,
           round(CAST(count(CASE WHEN ca = ce THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS label_agreement,
           count(CASE WHEN cda = cde THEN 1 END) AS core_dist_matches,
           round(CAST(count(CASE WHEN cda = cde THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS core_dist_recall,
           count(DISTINCT ce) FILTER (WHERE ce <> -1) AS clusters_exact,
           count(DISTINCT ca) FILTER (WHERE ca <> -1) AS clusters_ann
    FROM per
    """,
)
def embedding_mutual_reach_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the ANN-fed HDBSCAN* path (VERDICT_r07 #2):
    ``similarity.mutual_reachability_clusters_ann`` runs the SAME
    mutual-reachability tail as the exact twin
    (``embedding_mutual_reach_clusters``) but feeds it IVF candidate
    pairs — deterministic centroids (``vec_id % 25 == 0``), each point
    multiprobing its 4 nearest cells, candidates = co-members of a probed
    cell — and this query gates the approximation against the exact
    all-pairs run on the bounded subset (the ``er_blocking_quality``
    pattern): per-point core-distance recall (the k-th-nearest-among-
    candidates equals the true k-th exactly iff the candidate set covers
    the true top-k) and end-to-end label agreement, plus cluster counts
    both sides. Candidate core distances can only inflate, so the ANN
    edge set is structurally a SUBSET of the exact one (components
    refine; pinned in tests/unit/test_similarity.py). At 100 TB only the
    ANN leg survives (no |N|² stage anywhere in it); the exact leg is the
    declared bounded-audit baseline, same adjudication as
    ``er_blocking_quality``'s truth stratum."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    # ONE all-pairs distance pass feeds both legs (the ANN leg pulls its
    # candidate distances out of it — identical doubles, the audit measures
    # candidate coverage, not arithmetic), and ONE connected-components
    # loop labels both graphs (level-composite encoding, the
    # mutual_reach_hierarchy trick: exact edges at level 0, ANN edges at
    # level 1) instead of paying the iterative loop twice.
    enc = F.lit(1 << 32).cast("long")
    base, dist = similarity._all_pairs_cosine_dist(emb, "vec_id", "embedding")
    core_e, edges_e = similarity._mutual_reach_parts(dist, k=4, eps=0.70)
    cand = similarity._ivf_candidate_pairs(emb, "vec_id", "embedding", nprobe=4)
    core_a, edges_a = similarity._mutual_reach_parts(
        cand.join(dist, ["qa", "qb"]), k=4, eps=0.70
    )
    union = edges_e.unionByName(
        edges_a.select((enc + F.col("id_a")).alias("id_a"), (enc + F.col("id_b")).alias("id_b"))
    )
    comp = dedup.connected_components(union)
    comp_e = comp.filter(F.col("id") < (1 << 32))
    comp_a = comp.filter(F.col("id") >= (1 << 32)).select(
        (F.col("id") - enc).alias("id"), (F.col("comp") - enc).alias("comp")
    )
    exact = similarity._mutual_reach_label(base, core_e, comp_e).select(
        "id", F.col("cluster").alias("ce"), F.col("core_dist").alias("cde")
    )
    ann = similarity._mutual_reach_label(base, core_a, comp_a).select(
        "id", F.col("cluster").alias("ca"), F.col("core_dist").alias("cda")
    )
    per = exact.join(ann, "id")
    return per.agg(
        F.count("*").alias("n_points"),
        F.count(F.when(F.col("ca") == F.col("ce"), 1)).alias("label_matches"),
        F.round(
            F.count(F.when(F.col("ca") == F.col("ce"), 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("label_agreement"),
        F.count(F.when(F.col("cda") == F.col("cde"), 1)).alias("core_dist_matches"),
        F.round(
            F.count(F.when(F.col("cda") == F.col("cde"), 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("core_dist_recall"),
        F.count_distinct(F.when(F.col("ce") != -1, F.col("ce"))).alias(
            "clusters_exact"
        ),
        F.count_distinct(F.when(F.col("ca") != -1, F.col("ca"))).alias(
            "clusters_ann"
        ),
    )


@query(
    "embedding_mutual_reach_hierarchy",
    oracle=_MUTUAL_REACH_CORE_CTES
    + ","
    + _MUTUAL_REACH_MRE_CTE
    + ","
    + _MUTUAL_REACH_LEVELS_CTE
    + """,
    e AS (SELECT l.lvl * 4294967296 + m.qa AS s,
                 l.lvl * 4294967296 + m.qb AS t
          FROM mre m JOIN lv l ON m.mr <= l.eps),"""
    + _LEVEL_LABELS_CTES
    + """
    SELECT s.vec_id AS id, l.eps,
           CAST(coalesce(lab.comp % 4294967296, -1) AS BIGINT) AS cluster
    FROM sub s CROSS JOIN lv l
    LEFT JOIN labels lab ON lab.node = l.lvl * 4294967296 + s.vec_id
    """,
)
def embedding_mutual_reach_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-λ condensed-tree slices of the HDBSCAN* hierarchy
    (``similarity.mutual_reach_hierarchy``, k = 4, the density-level view
    the flat ``embedding_mutual_reach_clusters`` collapses to one eps):
    the mutual-reachability pair list is computed ONCE, then four eps
    thresholds slice their own graphs out of it and a SINGLE
    connected-components loop labels all four at once (level-composite
    node encoding ``lvl·2³² + id`` keeps the slices disjoint in one
    union). The chosen grid tells this corpus's whole density story —
    0.66: everything noise; 0.70: three tight blobs emerge; 0.74: they
    merge into one 232-point component; 0.78: a 297-point giant
    component — i.e. the cluster-stability information HDBSCAN's
    condensed tree encodes, at oracle-replayable fixed λ values (the
    continuous tree needs a per-merge dendrogram no bounded SQL can
    replay — documented adjudication, PLAN_r08 menu). Bounded-subset
    baseline contract as the flat twin; at scale the same slicing tail
    runs off the ANN candidate feed (``embedding_mutual_reach_ann``)."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    return similarity.mutual_reach_hierarchy(
        emb, k=4, eps_levels=(0.66, 0.70, 0.74, 0.78)
    )


@query(
    "embedding_mutual_reach_hierarchy_ann",
    oracle=_MUTUAL_REACH_CORE_CTES
    + ","
    + _MUTUAL_REACH_MRE_CTE
    + ","
    + _MUTUAL_REACH_ANN_CTES
    + """,
    mre_a AS (SELECT d.qa, d.qb, greatest(d.d, ca.cd, cb.cd) AS mr
              FROM dist_a d JOIN core_a ca ON ca.id = d.qa
                            JOIN core_a cb ON cb.id = d.qb
              WHERE d.qa < d.qb),"""
    + _MUTUAL_REACH_LEVELS_CTE
    + """,
    e AS (SELECT l.lvl * 4294967296 + m.qa AS s,
                 l.lvl * 4294967296 + m.qb AS t
          FROM mre m JOIN lv l ON m.mr <= l.eps
          UNION ALL
          SELECT (4 + l.lvl) * 4294967296 + m.qa,
                 (4 + l.lvl) * 4294967296 + m.qb
          FROM mre_a m JOIN lv l ON m.mr <= l.eps),"""
    + _LEVEL_LABELS_CTES
    + """,
    per AS (
      SELECT l.eps,
             CAST(coalesce(le.comp % 4294967296, -1) AS BIGINT) AS ce,
             CAST(coalesce(la.comp % 4294967296, -1) AS BIGINT) AS ca
      FROM sub s CROSS JOIN lv l
      LEFT JOIN labels le ON le.node = l.lvl * 4294967296 + s.vec_id
      LEFT JOIN labels la ON la.node = (4 + l.lvl) * 4294967296 + s.vec_id)
    SELECT eps, count(*) AS n_points,
           count(CASE WHEN ca = ce THEN 1 END) AS label_matches,
           round(CAST(count(CASE WHEN ca = ce THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS label_agreement,
           count(DISTINCT ce) FILTER (WHERE ce <> -1) AS clusters_exact,
           count(DISTINCT ca) FILTER (WHERE ca <> -1) AS clusters_ann
    FROM per GROUP BY eps
    """,
)
def embedding_mutual_reach_hierarchy_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed HIERARCHY recall audit (VERDICT_r08 item 5 —
    ``similarity.mutual_reach_hierarchy_ann_audit``): the fixed-λ
    condensed-tree slicer runs off BOTH the exact all-pairs
    mutual-reachability list and the IVF candidate feed
    (``_ivf_candidate_pairs``, nprobe 4, the same feed
    ``embedding_mutual_reach_ann`` grades flat), and each density level is
    scored for label agreement + cluster counts both sides. One all-pairs
    pass feeds both legs, both legs' eps-independent mutual-reach lists are
    built once and sliced four times, and ONE connected-components loop
    labels all 8 level-graphs via ``(leg·4 + lvl)·2³² + id`` composite
    nodes. ANN slices structurally REFINE the exact slices (candidate core
    distances only inflate), so agreement here reads as per-density recall.
    At 100 TB only the ANN leg runs; the exact leg is the declared bounded
    audit, same discipline as the flat audit."""
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", "embedding")
    )
    return similarity.mutual_reach_hierarchy_ann_audit(
        emb, k=4, eps_levels=(0.66, 0.70, 0.74, 0.78), nprobe=4
    )


@query(
    "dsir_importance_selection",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, w, t FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t
        FROM documents)
      WHERE w <> ''),
    cnt AS (SELECT w, sum(t) AS ct, sum(1 - t) AS cs FROM tok GROUP BY w),
    sc AS (SELECT sum(ct) AS nt, sum(cs) AS ns, count(*) AS v FROM cnt),
    scored AS (
      SELECT tok.doc_id, count(*) AS n_tokens,
             round(CAST(sum(CAST(round(
                     ln((cnt.ct + 1) * 1.0 / (sc.nt + sc.v))
                   - ln((cnt.cs + 1) * 1.0 / (sc.ns + sc.v)), 12)
                   AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6)
               AS avg_log_ratio
      FROM tok JOIN cnt USING (w) CROSS JOIN sc
      WHERE tok.t = 0
      GROUP BY tok.doc_id)
    SELECT s.doc_id, d.lang, s.n_tokens, s.avg_log_ratio
    FROM scored s JOIN documents d USING (doc_id)
    ORDER BY s.avg_log_ratio DESC, s.doc_id ASC
    LIMIT 20
    """,
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (``text.dsir_importance_stats`` — Xie et
    al. 2023, importance resampling with unigram features): unigram LMs
    are fit on the English slice (the TARGET domain) and the non-English
    remainder (the SOURCE pool) of the documents corpus; every source
    document is scored by its mean per-token log-likelihood ratio, and
    the top 20 — the out-of-domain documents that look most in-domain,
    the ones importance resampling would promote into the training mix —
    are emitted with language and token count. One tokenization pass
    feeds both LMs (the flag travels with the token), the scoring join
    never moves text, and the final top-k is a TakeOrdered over per-doc
    rows. Deterministic: ratio terms rounded at 12 and decimal-summed,
    output rounded at 6, (score desc, doc_id) total order."""
    docs = _t(spark, sf_dir, "documents")
    scored = text.dsir_importance_stats(
        docs.withColumn("__is_target", F.col("lang") == "en"),
        "text",
        "doc_id",
        "__is_target",
    )
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(F.col("avg_log_ratio").desc(), F.col("doc_id").asc())
        .limit(20)
        .select("doc_id", "lang", "n_tokens", "avg_log_ratio")
    )


@query(
    "hard_negative_mining",
    oracle="""
    WITH nrm AS (SELECT vec_id, label, embedding,
                        sqrt(list_sum(list_transform(embedding,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nf
                 FROM embeddings),
    p AS (SELECT * FROM nrm WHERE vec_id < 150),
    pairs AS (
      SELECT p.vec_id AS probe_id, p.label AS probe_label,
             c.vec_id AS neg_id, c.label AS neg_label,
             list_sum(list_transform(list_zip(p.embedding, c.embedding),
                 q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))
               / (p.nf * c.nf) AS cos
      FROM p JOIN nrm c ON c.vec_id <> p.vec_id AND c.label <> p.label)
    SELECT probe_id, probe_label, neg_id AS hard_negative_id, neg_label,
           round(cos, 6) AS cosine
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY cos DESC, neg_id ASC) = 1
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training data: for each probe
    embedding (bounded subset vec_id < 150 — the declared all-pairs
    baseline contract), the single most cosine-similar vector with a
    DIFFERENT label — the near-miss that teaches a contrastive model the
    decision boundary, where random negatives (``negative_sampling_pairs``)
    teach almost nothing. Broadcast the tiny probe side against the full
    corpus, one windowed argmax per probe (cos desc, id tiebreak). At
    100 TB the candidate pairs come from the LSH/IVF paths and the same
    window runs per probe over candidates only."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label", "embedding", similarity.l2_norm("embedding").alias("__n")
    )
    p = base.filter(F.col("vec_id") < 150).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("embedding").alias("__pv"),
        F.col("__n").alias("__pn"),
    )
    c = base.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("__cv"),
        F.col("__n").alias("__cn"),
    )
    pairs = c.join(
        F.broadcast(p),
        (F.col("neg_id") != F.col("probe_id"))
        & (F.col("neg_label") != F.col("probe_label")),
    ).select(
        "probe_id",
        "probe_label",
        "neg_id",
        "neg_label",
        (similarity.dot("__pv", "__cv") / (F.col("__pn") * F.col("__cn"))).alias(
            "__cos"
        ),
    )
    return (
        rank.top_n_per_group(
            pairs, ("probe_id",), "__cos", n=1, tiebreak=("neg_id",), rank_col="__rn"
        )
        .select(
            "probe_id",
            "probe_label",
            F.col("neg_id").alias("hard_negative_id"),
            "neg_label",
            F.round("__cos", 6).alias("cosine"),
        )
    )


@query(
    "l_diversity_audit",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey,
             CAST(floor(CAST(c_acctbal AS DOUBLE) / 2000) AS BIGINT) AS bal_band,
             count(*) AS n,
             count(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2)
    SELECT count(*) AS n_classes,
           CAST(min(l) AS BIGINT) AS min_l,
           CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_classes,
           CAST(sum(CASE WHEN l = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_exposed_rows,
           round(sum(CASE WHEN l < 3 THEN n ELSE 0 END) * 1.0 / sum(n), 6)
             AS below_3_diverse_row_share
    FROM cls
    """,
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — ``k_anonymity_audit``'s companion: k-anonymity
    alone fails to the HOMOGENEITY attack (a class of 50 people all
    sharing the sensitive value discloses it for every member even though
    k=50), so each quasi-identifier class (nation, 2000-unit balance
    band) is additionally profiled by how many DISTINCT sensitive values
    (market segment) it contains. Output: class count, worst-case l,
    fully-homogeneous classes and their exposed rows, and the row share
    below l=3. One grouped count-distinct — partial-aggregated like any
    distinct — plus a one-row summary."""
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return cls.agg(
        F.count("*").alias("n_classes"),
        F.min("l").alias("min_l"),
        F.sum(F.when(F.col("l") == 1, 1).otherwise(0)).alias("n_homogeneous_classes"),
        F.sum(F.when(F.col("l") == 1, F.col("n")).otherwise(0)).alias("n_exposed_rows"),
        F.round(
            F.sum(F.when(F.col("l") < 3, F.col("n")).otherwise(0)) * 1.0 / F.sum("n"),
            6,
        ).alias("below_3_diverse_row_share"),
    )


@query(
    "bloom_prejoin_audit",
    oracle="""
    WITH q1 AS (SELECT * FROM orders
                WHERE o_orderdate >= DATE '1995-01-01'
                  AND o_orderdate <  DATE '1995-04-01'),
    keys AS (SELECT DISTINCT o_custkey AS k FROM q1),
    rows3 AS (SELECT unnest(range(3)) AS r),
    bits AS (SELECT DISTINCT
               CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
                    || CAST(k AS VARCHAR)), 1, 8) AS BIGINT) % 2048 AS pos
             FROM keys CROSS JOIN rows3),
    probe AS (SELECT c.c_custkey,
                     count(*) AS hits
              FROM customer c CROSS JOIN rows3 r
              JOIN bits b ON b.pos =
                   CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                        || CAST(c.c_custkey AS VARCHAR)), 1, 8) AS BIGINT) % 2048
              GROUP BY 1),
    verdicts AS (SELECT c.c_custkey,
                        coalesce(p.hits, 0) = 3 AS bloom_pos,
                        EXISTS (SELECT 1 FROM q1 o
                                WHERE o.o_custkey = c.c_custkey) AS truth
                 FROM customer c LEFT JOIN probe p USING (c_custkey))
    SELECT count(*) AS n_customers,
           CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_orders,
           CAST(sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_positive,
           CAST(sum(CASE WHEN bloom_pos AND NOT truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           CAST(sum(CASE WHEN truth AND NOT bloom_pos THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negative,
           round(sum(CASE WHEN bloom_pos AND NOT truth THEN 1 ELSE 0 END) * 1.0
                 / nullif(sum(CASE WHEN NOT truth THEN 1 ELSE 0 END), 0), 6)
             AS fp_rate
    FROM verdicts
    """,
)
def bloom_prejoin_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Bloom filter + false-positive audit — the pre-join runtime
    filter made explicit: custkeys with a Q1-1995 order build a 2048-bit /
    3-hash Bloom (represented as a distinct set-bit TABLE — grouped
    distinct, mergeable across shards, broadcastable at ≤2048 rows no
    matter how large the build side), every customer probes it, and the
    audit cross-checks against the exact semi-join truth. The structural
    gate is ``n_false_negative`` — a Bloom filter NEVER misses a real
    member, so any nonzero value means the filter is broken; ``fp_rate``
    is what you'd trade against shuffle savings when pre-filtering a
    100 TB probe side before the join (AQE's injected bloom does exactly
    this; here the mechanism is explicit and oracle-checkable via
    portable md5 position hashes). The bit width is deliberately FIXED
    while the build side grows with SF, so the two test scales
    demonstrate both regimes: a well-sized filter (substantive fp_rate
    at sf0.01) and a saturated one (fp_rate → 1 at sf0.1 — the sizing
    lesson itself)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    q1 = o.filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    keys = q1.select(F.col("o_custkey").alias("k")).distinct()

    def pos(r: int, col) -> "Column":
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{r}:"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 2048
        )

    bits = (
        keys.select(
            F.explode(F.array(*[pos(r, F.col("k")) for r in range(3)])).alias("pos")
        )
        .distinct()
    )
    probed = (
        c.select("c_custkey")
        .select(
            "c_custkey",
            F.explode(F.array(*[pos(r, F.col("c_custkey")) for r in range(3)])).alias(
                "pos"
            ),
        )
        .join(F.broadcast(bits), "pos")
        .groupBy("c_custkey")
        .agg(F.count("*").alias("hits"))
    )
    truth = c.select("c_custkey").join(
        q1.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).withColumn("truth", F.lit(True))
    verdicts = (
        c.select("c_custkey")
        .join(probed, "c_custkey", "left")
        .join(truth.select("c_custkey", "truth"), "c_custkey", "left")
        .select(
            "c_custkey",
            (F.coalesce("hits", F.lit(0)) == 3).alias("bloom_pos"),
            F.coalesce("truth", F.lit(False)).alias("truth"),
        )
    )
    fp = F.sum(F.when(F.col("bloom_pos") & ~F.col("truth"), 1).otherwise(0))
    return verdicts.agg(
        F.count("*").alias("n_customers"),
        F.sum(F.when(F.col("truth"), 1).otherwise(0)).alias("n_with_orders"),
        F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0)).alias("n_bloom_positive"),
        fp.alias("n_false_positive"),
        F.sum(F.when(F.col("truth") & ~F.col("bloom_pos"), 1).otherwise(0)).alias(
            "n_false_negative"
        ),
        F.round(
            fp * 1.0
            / F.nullif(F.sum(F.when(~F.col("truth"), 1).otherwise(0)), F.lit(0)),
            6,
        ).alias("fp_rate"),
    )


@query(
    "cm_sketch_token_counts",
    oracle=r"""
    WITH toks AS (
      SELECT unnest([x FOR x IN string_split_regex(lower(trim(text)), '\s+')
                     IF x <> '']) AS token
      FROM documents),
    rows4 AS (SELECT unnest(range(4)) AS r),
    cm AS (SELECT r,
                  CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 8)
                       AS BIGINT) % 256 AS b,
                  count(*) AS c
           FROM toks CROSS JOIN rows4 GROUP BY 1, 2),
    cnt AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
    top AS (SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token ASC) AS rk
            FROM cnt QUALIFY rk <= 20),
    est AS (SELECT t.token, t.n, min(cm.c) AS e
            FROM top t CROSS JOIN rows4 rr
            JOIN cm ON cm.r = rr.r
                   AND cm.b = CAST('0x' || substr(md5(CAST(rr.r AS VARCHAR)
                                   || ':' || t.token), 1, 8) AS BIGINT) % 256
            GROUP BY 1, 2)
    SELECT token, n AS exact_n, CAST(e AS BIGINT) AS cm_estimate,
           CAST(e - n AS BIGINT) AS overestimate
    FROM est
    """,
)
def cm_sketch_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN frequency sketch (``sketch.cm_sketch``), the mergeable
    point-frequency member the MG/HLL/Theta/KLL family lacked: a 4×256
    counter table built in one grouped pass (per-partition partials merge
    by summing — the shard-then-merge 100 TB shape), probed for the
    top-20 exact tokens. Hashes are portable md5 prefixes, so the oracle
    rebuilds the IDENTICAL counter table and the estimates match
    bit-for-bit — and the emitted ``overestimate`` column doubles as the
    structural gate (Count-Min can only ever over-count: a single
    negative value means the sketch is broken)."""
    from ..operators import sketch

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    cm = sketch.cm_sketch(toks, "token", width=256, depth=4)
    cnt = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = rank.top_n_per_group(
        cnt, (), "n", n=20, tiebreak=("token",), rank_col="rk"
    ).select("token", "n")
    est = sketch.cm_estimate(cm, top, "token", width=256, depth=4)
    return est.select(
        "token",
        F.col("n").alias("exact_n"),
        F.col("cm_estimate"),
        (F.col("cm_estimate") - F.col("n")).cast("long").alias("overestimate"),
    )


@query(
    "token_zipf_fit",
    oracle=r"""
    WITH toks AS (
      SELECT unnest([x FOR x IN string_split_regex(lower(trim(text)), '\s+')
                     IF x <> '']) AS token
      FROM documents),
    cnt AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
    top AS (SELECT token, n,
                   row_number() OVER (ORDER BY n DESC, token ASC) AS r
            FROM cnt QUALIFY r <= 1000),
    t AS (SELECT CAST(round(ln(r), 12) AS DECIMAL(30,12)) AS x,
                 CAST(round(ln(n), 12) AS DECIMAL(30,12)) AS y
          FROM top),
    s AS (SELECT count(*) AS m,
                 CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * y AS DECIMAL(38,20))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x * x AS DECIMAL(38,20))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y * y AS DECIMAL(38,20))) AS DOUBLE) AS syy
          FROM t)
    SELECT CAST(m AS BIGINT) AS n_tokens_fit,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope,
           round((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 6) AS zipf_r2
    FROM s
    """,
)
def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS of log(frequency) on
    log(rank) for the top-1000 tokens — slope ≈ −1 is the natural-language
    signature, and a corpus whose slope drifts far from it is
    boilerplate-heavy or template-generated (a cheap corpus-level quality
    gate next to the per-document scores). Determinism follows the
    decimal-power-sum discipline (``order_price_moments``): each log term
    is rounded at 12 then summed as DECIMAL — exact, order-independent —
    and only the final scalar slope/r² combination runs in double. One
    token-count aggregate over the corpus; the fit runs on 1000 rows."""
    from ..operators import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text_ops.tokens("text")).alias("token")).filter(
        F.col("token") != ""
    )
    cnt = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = rank.top_n_per_group(cnt, (), "n", n=1000, tiebreak=("token",), rank_col="r")
    dec = "decimal(30,12)"
    t = top.select(
        F.round(F.log(F.col("r")), 12).cast(dec).alias("x"),
        F.round(F.log(F.col("n")), 12).cast(dec).alias("y"),
    )
    s = t.agg(
        F.count("*").alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,20)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,20)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,20)")).cast("double").alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("m").cast("long").alias("n_tokens_fit"),
        F.round(num / den, 6).alias("zipf_slope"),
        F.round(num * num / (den * deny), 6).alias("zipf_r2"),
    )


@query(
    "corpus_curation_e2e",
    oracle=r"""
    WITH RECURSIVE q AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               round(
                 (CASE WHEN len(tok) BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.0 END) *
                 (0.5 * least(len(list_filter(tok, x -> list_contains(
                          ['the','a','of','and','to','in','is','it','that','for'], lower(x))))
                        / len(tok) * 5, 1.0)
                  + 0.5 * len(list_distinct(tok)) / len(tok)),
                 6) AS quality
        FROM (SELECT doc_id, lang, text,
                     string_split_regex(trim(text), '\s+') AS tok FROM documents))
      WHERE quality >= 0.5),
    w1 AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text)),
    d1 AS (SELECT q.* FROM q WHERE doc_id IN (SELECT doc_id FROM w1)),
    docs2 AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM d1),"""
    + _jaccard_reach_ctes("docs2")
    + ","
    + _NEARDUP_LABELS_CTE
    + r""",
    d2 AS (SELECT * FROM d1
           WHERE doc_id NOT IN (SELECT doc_id FROM labels
                                WHERE doc_id <> component_id)),
    b AS (SELECT *, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % 10000 AS bucket
          FROM d2)
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
             AS total_tokens
    FROM b GROUP BY 1, 2
    """,
)
def corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one declared query — the composition
    a training-data team actually ships, end to end through the operator
    library: quality gate (≥ 0.5) → exact content-hash dedup (min-id) →
    near-dup dedup apply (shingle-Jaccard pairs → connected components →
    broadcast anti-join) → append-stable 90/5/5 hash split → per
    split × language doc and token counts. Every stage is the
    already-oracle-gated operator; this query certifies their COMPOSITION
    (stage boundaries are where silent schema/semantic drift hides).
    Corpus-sized work: two scans (quality+hash, token count) plus the
    near-dup pair join on the filtered survivor set; the drop lists
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.withColumn("quality", text.quality_score("text")).filter(
        F.col("quality") >= 0.5
    )
    d1 = dedup.dedup_exact(q, "text", "doc_id")
    pairs = dedup.ngram_jaccard_pairs(
        d1, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    comp = dedup.connected_components(pairs)
    drop = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("doc_id")
    )
    d2 = d1.join(F.broadcast(drop), "doc_id", "left_anti")
    s = sampling.hash_split(
        d2, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return s.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(text.token_count("text").cast("long")).alias("total_tokens"),
    )


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_BM25_SCORES_SQL``: (doc_id, bm25) for every doc
    matching any query term (same machinery as ``bm25_search_top20``)."""
    docs = _t(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("w")
    ).filter(F.col("w") != "")
    dl = tk.groupBy("doc_id").agg(F.count("*").alias("len"))
    sc = dl.agg(
        F.count("*").alias("n"),
        (F.sum("len").cast("double") / F.count("*")).alias("avglen"),
    )
    tf = (
        tk.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("w").agg(F.count("*").alias("df"))
    k1, b = F.lit(1.2), F.lit(0.75)
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("len") / F.col("avglen"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(sc))
        .select(
            "doc_id",
            F.round(idf * tf_part, 12).cast("decimal(30,12)").alias("term_score"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("term_score").cast("double"), 6).alias("bm25")
    )


@query(
    "hybrid_search_rrf",
    oracle="WITH " + _BM25_SCORES_SQL + r""",
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank1
           FROM bm25s QUALIFY rank1 <= 50),
    cos AS (
      SELECT c.vec_id AS doc_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosim
      FROM (SELECT * FROM embeddings WHERE vec_id = 0) q
      JOIN embeddings c ON c.vec_id <> 0),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY cosim DESC, doc_id ASC) AS rank2
           FROM cos QUALIFY rank2 <= 50),
    fused AS (
      SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id, r1.rank1, r2.rank2,
             coalesce(1.0 / (60 + r1.rank1), 0.0)
             + coalesce(1.0 / (60 + r2.rank2), 0.0) AS rrf
      FROM r1 FULL JOIN r2 ON r1.doc_id = r2.doc_id)
    SELECT doc_id, rank1 AS bm25_rank, rank2 AS cos_rank,
           round(rrf, 8) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id ASC LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (k=60): the lexical
    BM25 ranking and the dense cosine ranking (probe vector 0) each
    contribute 1/(60+rank) for their top-50, fused and re-ranked — the
    standard way production search marries keyword and embedding indexes
    without score calibration (ranks, not raw scores, so the two
    incomparable scales never meet). Both input rankings are the
    already-oracle-gated machineries; the fusion is one full outer join on
    doc id + one top-20. Integer ranks make every RRF contribution an
    exact double both engines share."""
    from pyspark.sql import Window

    b = _bm25_scores(spark, sf_dir)
    r1 = rank.top_n_per_group(
        b, (), "bm25", n=50, tiebreak=("doc_id",), rank_col="rank1"
    ).select("doc_id", "rank1")
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    nn = similarity.cosine_topk_bruteforce(
        probe.select("vec_id", "embedding"), emb.select("vec_id", "embedding"), k=50
    )
    r2 = (
        nn.withColumn(
            "rank2",
            F.row_number().over(
                Window.orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
            ),
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank2")
    )
    fused = r1.join(r2, "doc_id", "full").select(
        "doc_id",
        "rank1",
        "rank2",
        (
            F.coalesce(1.0 / (60 + F.col("rank1")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rank2")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id",
            # cast long: DuckDB row_number is BIGINT (oracle type alignment)
            F.col("rank1").cast("long").alias("bm25_rank"),
            F.col("rank2").cast("long").alias("cos_rank"),
            F.round("rrf", 8).alias("rrf_score"),
        )
    )


def _pearson_r(n, sxy, sx, sy, sxx, syy) -> F.Column:
    """Pearson r from count and power sums, rounded to 6 places."""
    return F.round(
        (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        6,
    )


@query(
    "discount_quantity_elasticity",
    oracle="""
    WITH j AS (
      SELECT p.p_brand, l.l_discount AS x, l.l_quantity AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    s AS (
      SELECT p_brand, count(*) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy
      FROM j GROUP BY p_brand)
    SELECT p_brand, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def discount_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS of quantity on discount — the pricing team's
    elasticity screen: does a deeper discount actually move volume for
    this brand? Slope / intercept / R² per brand in closed form from six
    exact decimal power sums (both source columns are 2-dp decimals, so
    every sum is exact and partial-agg order is irrelevant); one fact scan
    against the broadcast part dim, one grouped aggregate, identical
    scalar expression trees in both engines. The multivariate big sibling
    is ``ridge_value_model``; this is the per-segment univariate readout."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_discount").alias("x"), F.col("l_quantity").alias("y")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)

    x, y = F.col("x"), F.col("y")
    s = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        _dsum(x, 2).alias("sx"),
        _dsum(y, 2).alias("sy"),
        _dsum(x * x, 4).alias("sxx"),
        _dsum(y * y, 4).alias("syy"),
        _dsum(x * y, 4).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "p_brand",
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.pow(n * sxy - sx * sy, 2)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


@query(
    "lineitem_metric_correlations",
    oracle="""
    WITH s AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sq,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sp,
             CAST(sum(CAST(l_discount AS DECIMAL(38,4))) AS DOUBLE) AS sd,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sqq,
             CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS spp,
             CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sqp,
             CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS sqd,
             CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,4))) AS DOUBLE) AS spd
      FROM lineitem)
    SELECT 'quantity~extendedprice' AS pair, CAST(n AS BIGINT) AS n,
           round((n * sqp - sq * sp)
                 / sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 6) AS pearson_r
    FROM s
    UNION ALL
    SELECT 'quantity~discount', CAST(n AS BIGINT),
           round((n * sqd - sq * sd)
                 / sqrt((n * sqq - sq * sq) * (n * sdd - sd * sd)), 6)
    FROM s
    UNION ALL
    SELECT 'extendedprice~discount', CAST(n AS BIGINT),
           round((n * spd - sp * sd)
                 / sqrt((n * spp - sp * sp) * (n * sdd - sd * sd)), 6)
    FROM s
    """,
)
def lineitem_metric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem measures
    (quantity, extendedprice, discount) — the feature-redundancy screen a
    modeling pass runs before fitting (``ridge_value_model``'s univariate
    cousin). ONE scan computes all nine exact decimal power sums (the
    source columns are 2-dp decimals, so every sum is exact); the three
    correlations are closed-form scalars, emitted as rows by exploding a
    literal struct array over the single aggregate row — no joins, no
    second pass, identical double expression trees in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")

    s = li.agg(
        F.count("*").alias("n"),
        _dsum(q, 4).alias("sq"),
        _dsum(p, 4).alias("sp"),
        _dsum(d, 4).alias("sd"),
        _dsum(q * q, 4).alias("sqq"),
        _dsum(p * p, 4).alias("spp"),
        _dsum(d * d, 6).alias("sdd"),
        _dsum(q * p, 4).alias("sqp"),
        _dsum(q * d, 4).alias("sqd"),
        _dsum(p * d, 4).alias("spd"),
    )
    n = F.col("n")
    sq, sp, sd = F.col("sq"), F.col("sp"), F.col("sd")
    sqq, spp, sdd = F.col("sqq"), F.col("spp"), F.col("sdd")
    pairs = F.array(
        F.struct(
            F.lit("quantity~extendedprice").alias("pair"),
            _pearson_r(n, F.col("sqp"), sq, sp, sqq, spp).alias("pearson_r"),
        ),
        F.struct(
            F.lit("quantity~discount").alias("pair"),
            _pearson_r(n, F.col("sqd"), sq, sd, sqq, sdd).alias("pearson_r"),
        ),
        F.struct(
            F.lit("extendedprice~discount").alias("pair"),
            _pearson_r(n, F.col("spd"), sp, sd, spp, sdd).alias("pearson_r"),
        ),
    )
    return s.select(n.cast("long").alias("n"), F.explode(pairs).alias("pr")).select(
        F.col("pr.pair").alias("pair"), "n", F.col("pr.pearson_r").alias("pearson_r")
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS relation,
           CAST(count(*) AS BIGINT) AS n_child,
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           round(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS orphan_rate
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    UNION ALL
    SELECT 'events.user_id->customer', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           round(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6)
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table foreign-key audit: orphan counts and rates for every FK
    edge of the schema (lineitem→orders/part/supplier, orders→customer,
    customer→nation, plus the soft events.user_id→customer edge — the only
    one expected to leak, since the event feed writes users the warehouse
    hasn't onboarded). The single-table expectations gate
    (``dq_expectations_orders``) can't see broken JOINS; this is the check
    a pipeline runs after every load before trusting star-join results.
    Each edge is one LEFT equi-join (parent keys unique by schema) with a
    conditional count — map-side pruned to key columns, no distinct, no
    shuffle beyond the join — and the six 1-row legs UNION into the
    report (no scalar cross joins)."""
    tables = {
        name: _t(spark, sf_dir, name)
        for name in ("lineitem", "orders", "part", "supplier", "customer",
                     "nation", "events")
    }

    def leg(label: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        j = child.select(F.col(ck).alias("__k")).join(
            parent.select(F.col(pk).alias("__k"), F.lit(1).alias("__hit")),
            "__k",
            "left",
        )
        return j.agg(
            F.count("*").cast("long").alias("n_child"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            F.lit(label).alias("relation"),
            "n_child",
            "n_orphans",
            F.round(F.col("n_orphans") / F.col("n_child"), 6).alias("orphan_rate"),
        )

    t = tables
    legs = [
        leg("lineitem.l_orderkey->orders", t["lineitem"], "l_orderkey", t["orders"], "o_orderkey"),
        leg("lineitem.l_partkey->part", t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        leg("lineitem.l_suppkey->supplier", t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        leg("orders.o_custkey->customer", t["orders"], "o_custkey", t["customer"], "c_custkey"),
        leg("customer.c_nationkey->nation", t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
        leg("events.user_id->customer", t["events"], "user_id", t["customer"], "c_custkey"),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionAll(other)
    return out


@query(
    "lineitem_spearman_correlations",
    oracle="""
    WITH li AS (SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS d
                FROM lineitem),
    rq AS (SELECT q, (2.0 * sum(cnt) OVER (ORDER BY q) - cnt + 1) / 2 AS r
           FROM (SELECT q, count(*) AS cnt FROM li GROUP BY q)),
    rp AS (SELECT p, (2.0 * sum(cnt) OVER (ORDER BY p) - cnt + 1) / 2 AS r
           FROM (SELECT p, count(*) AS cnt FROM li GROUP BY p)),
    rd AS (SELECT d, (2.0 * sum(cnt) OVER (ORDER BY d) - cnt + 1) / 2 AS r
           FROM (SELECT d, count(*) AS cnt FROM li GROUP BY d)),
    j AS (SELECT rq.r AS x, rp.r AS y, rd.r AS z
          FROM li JOIN rq ON rq.q = li.q
                  JOIN rp ON rp.p = li.p
                  JOIN rd ON rd.d = li.d),
    s AS (SELECT count(*) AS n,
                 CAST(sum(CAST(x AS DECIMAL(38,2))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(38,2))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(z AS DECIMAL(38,2))) AS DOUBLE) AS sz,
                 CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
                 CAST(sum(CAST(z * z AS DECIMAL(38,4))) AS DOUBLE) AS szz,
                 CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(x * z AS DECIMAL(38,4))) AS DOUBLE) AS sxz,
                 CAST(sum(CAST(y * z AS DECIMAL(38,4))) AS DOUBLE) AS syz
          FROM j)
    SELECT 'quantity~extendedprice' AS pair, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS spearman_rho
    FROM s
    UNION ALL
    SELECT 'quantity~discount', CAST(n AS BIGINT),
           round((n * sxz - sx * sz)
                 / sqrt((n * sxx - sx * sx) * (n * szz - sz * sz)), 6)
    FROM s
    UNION ALL
    SELECT 'extendedprice~discount', CAST(n AS BIGINT),
           round((n * syz - sy * sz)
                 / sqrt((n * syy - sy * sy) * (n * szz - sz * sz)), 6)
    FROM s
    """,
)
def lineitem_spearman_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlations over the same three measure pairs as
    ``lineitem_metric_correlations`` — the monotone-association screen
    that survives the heavy-tailed price distribution where Pearson
    saturates on outliers. Tied values get exact MIDRANKS via the doubled
    form ``(2·cum − cnt + 1)/2`` (the ``ab_test_mannwhitney`` integer
    trick, so every rank is an exact half-integer and every power sum is
    an exact .25-grain decimal); then Spearman ρ = Pearson on ranks, one
    closed-form scalar per pair from a single nine-sum aggregate. Rank
    maps build on value-granularity pre-aggregates (|distinct values|
    unpartitioned windows, the declared KS/MW posture) and join back as
    plain equi-joins."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
        F.col("l_discount").alias("d"),
    )
    from pyspark.sql import Window

    def rank_map(col: str) -> DataFrame:
        per = li.groupBy(col).agg(F.count("*").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, 0)
        return per.select(
            col,
            (
                (2.0 * F.sum("cnt").over(w) - F.col("cnt") + 1) / 2
            ).alias(f"__r_{col}"),
        )

    j = (
        li.join(rank_map("q"), "q")
        .join(rank_map("p"), "p")
        .join(rank_map("d"), "d")
        .select(
            F.col("__r_q").alias("x"),
            F.col("__r_p").alias("y"),
            F.col("__r_d").alias("z"),
        )
    )

    x, y, z = F.col("x"), F.col("y"), F.col("z")
    s = j.agg(
        F.count("*").alias("n"),
        _dsum(x, 2).alias("sx"),
        _dsum(y, 2).alias("sy"),
        _dsum(z, 2).alias("sz"),
        _dsum(x * x, 4).alias("sxx"),
        _dsum(y * y, 4).alias("syy"),
        _dsum(z * z, 4).alias("szz"),
        _dsum(x * y, 4).alias("sxy"),
        _dsum(x * z, 4).alias("sxz"),
        _dsum(y * z, 4).alias("syz"),
    )
    n = F.col("n")
    pairs = F.array(
        F.struct(
            F.lit("quantity~extendedprice").alias("pair"),
            _pearson_r(n, F.col("sxy"), F.col("sx"), F.col("sy"), F.col("sxx"), F.col("syy")).alias("spearman_rho"),
        ),
        F.struct(
            F.lit("quantity~discount").alias("pair"),
            _pearson_r(n, F.col("sxz"), F.col("sx"), F.col("sz"), F.col("sxx"), F.col("szz")).alias("spearman_rho"),
        ),
        F.struct(
            F.lit("extendedprice~discount").alias("pair"),
            _pearson_r(n, F.col("syz"), F.col("sy"), F.col("sz"), F.col("syy"), F.col("szz")).alias("spearman_rho"),
        ),
    )
    return s.select(n.cast("long").alias("n"), F.explode(pairs).alias("pr")).select(
        F.col("pr.pair").alias("pair"), "n", F.col("pr.spearman_rho").alias("spearman_rho")
    )


@query(
    "order_price_moments",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS s1,
             CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS s2,
             CAST(sum(CAST(pow(o_totalprice, 3) AS DECIMAL(38,4))) AS DOUBLE) AS s3,
             CAST(sum(CAST(pow(o_totalprice, 4) AS DECIMAL(38,4))) AS DOUBLE) AS s4
      FROM orders GROUP BY 1),
    m AS (SELECT o_orderpriority, n, s1 / n AS mu,
                 s2 / n - pow(s1 / n, 2) AS var,
                 s1, s2, s3, s4
          FROM s)
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_orders,
           round(mu, 4) AS mean_price,
           round(sqrt(var), 4) AS std_price,
           round((s3 / n - 3 * mu * s2 / n + 2 * pow(mu, 3)) / pow(var, 1.5), 6)
             AS skewness,
           round((s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * pow(mu, 4))
                 / (var * var) - 3, 6) AS excess_kurtosis
    FROM m
    """,
)
def order_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile per order priority: mean, std,
    skewness, excess kurtosis — the shape statistics a drift monitor
    tracks beyond location/scale. Built from EXACT decimal power sums
    (Σx…Σx⁴ — each per-row power is the identical double in both engines,
    rounded into a decimal before summation), so the derived moments are
    bit-stable at any executor count; Spark's built-in ``skewness``/
    ``kurtosis`` are float-accumulated and engine-specific, which is
    exactly why this query doesn't use them. One partial-agg'd scan."""
    o = _t(spark, sf_dir, "orders")
    x = F.col("o_totalprice")
    s = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(38,4)")).cast("double").alias("s1"),
        F.sum((x * x).cast("decimal(38,4)")).cast("double").alias("s2"),
        F.sum(F.pow(x, 3).cast("decimal(38,4)")).cast("double").alias("s3"),
        F.sum(F.pow(x, 4).cast("decimal(38,4)")).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    var = s2 / n - F.pow(mu, 2)
    return s.select(
        "o_orderpriority",
        n.cast("long").alias("n_orders"),
        F.round(mu, 4).alias("mean_price"),
        F.round(F.sqrt(var), 4).alias("std_price"),
        F.round(
            (s3 / n - 3 * mu * s2 / n + 2 * F.pow(mu, 3)) / F.pow(var, 1.5), 6
        ).alias("skewness"),
        F.round(
            (s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n - 3 * F.pow(mu, 4))
            / (var * var)
            - 3,
            6,
        ).alias("excess_kurtosis"),
    )


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE), 2)
             AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view (the join twin of
    ``incremental_rollup_merge``): the materialized orders⋈customer view
    is maintained as old-result ∪ (Δorders ⋈ customer) — only the delta
    ever joins; the prior result is appended untouched. The oracle
    recomputes the view from scratch, so the green row IS the IVM
    identity merge ≡ recompute. At 100 TB this is the difference between
    joining a day's increment and re-joining the corpus nightly. Final
    per-segment aggregate keeps the comparison bounded; decimal revenue
    as everywhere."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.filter(F.col("o_orderkey") % 10 != 0)  # "yesterday's" view input
    delta = o.filter(F.col("o_orderkey") % 10 == 0)  # today's increment
    prior = base.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "o_totalprice"
    )
    incr = delta.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "o_totalprice"
    )
    view = prior.unionAll(incr)
    return view.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(_dsum(F.col("o_totalprice")), 2).alias("revenue"),
    )


@query(
    "customer_golden_records",
    oracle="""
    WITH RECURSIVE c AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                         WHERE c_custkey % 10 = 0),
    cand AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
             a.c_name AS na, b.c_name AS nb
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 10, 3) = substr(b.c_name, 10, 3)
      UNION
      SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 13, 3) = substr(b.c_name, 13, 3)
      UNION
      SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
       AND substr(a.c_name, 16, 3) = substr(b.c_name, 16, 3)
    ),
    pairs AS (SELECT id_a, id_b, CAST(levenshtein(na, nb) AS INTEGER) AS dist
              FROM cand WHERE levenshtein(na, nb) <= 2),
    sym AS (SELECT id_a AS src, id_b AS dst, dist FROM pairs
            UNION ALL SELECT id_b, id_a, dist FROM pairs),
    best AS (SELECT src, dst FROM (
               SELECT src, dst,
                      row_number() OVER (PARTITION BY src
                                         ORDER BY dist ASC, dst ASC) AS rn
               FROM sym) WHERE rn = 1),
    mutual AS (SELECT b1.src AS id_a, b1.dst AS id_b
               FROM best b1 JOIN best b2
                 ON b1.src = b2.dst AND b1.dst = b2.src AND b1.src < b1.dst),
    edges AS (SELECT id_a AS s, id_b AS d FROM mutual
              UNION SELECT id_b, id_a FROM mutual),
    reach AS (SELECT s, d FROM edges
              UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    labels AS (SELECT s AS id, least(s, min(d)) AS comp FROM reach GROUP BY s),
    members AS (SELECT l.id, l.comp, c.c_acctbal FROM labels l
                JOIN c ON c.c_custkey = l.id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY comp
                                   ORDER BY c_acctbal DESC, id ASC) AS rn
      FROM members),
    csize AS (SELECT comp, count(*) AS n_merged FROM members GROUP BY comp),
    mapping AS (
      SELECT m.id, r.id AS golden, s.n_merged
      FROM members m
      JOIN ranked r ON r.comp = m.comp AND r.rn = 1
      JOIN csize s ON s.comp = m.comp)
    SELECT c.c_custkey,
           coalesce(g.golden, c.c_custkey) AS golden_custkey,
           CAST(coalesce(g.n_merged, 1) AS BIGINT) AS n_merged,
           coalesce(g.golden, c.c_custkey) = c.c_custkey AS is_golden
    FROM c LEFT JOIN mapping g ON g.id = c.c_custkey
    """,
)
def customer_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution GOLDEN RECORD construction — the step after fuzzy
    matching (``fuzzy_customer_name_pairs``): dist ≤ 2 name pairs →
    reciprocal-best merge edges → connected components → per-cluster
    survivor by best-record rule (highest balance, custkey tiebreak) —
    emitted as the full SURVIVORSHIP MAPPING (every sampled record → its
    golden id, cluster size, is-golden flag), the master-data crosswalk a
    CRM dedup actually ships. Merge edges are RECIPROCAL BEST MATCHES (each
    record's single closest counterpart, kept iff mutual) — the standard
    refinement that stops near-sequential ids from transitively chaining
    the whole sample into one cluster, which plain dist ≤ 2 edges do on
    this synthetic name space (observed: one 150-member component). Same
    scale shape as the dedup applies: pair list is tiny, the windowed
    pick runs per cluster, and the member join is key-partitioned."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    # the verified pair list feeds the symmetric union (both directions),
    # the reciprocal-best window, and the mutual self-join — materialize the
    # tiny list once instead of re-running the 3-pass blocked ER per consumer
    pairs = dedup.edit_distance_pairs(
        c,
        "c_name",
        "c_custkey",
        [
            F.substring("c_name", 10, 3),
            F.substring("c_name", 13, 3),
            F.substring("c_name", 16, 3),
        ],
        max_dist=2,
    ).select("id_a", "id_b", "dist").localCheckpoint()
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "dist"
    ).unionAll(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "dist")
    )
    best = rank.top_n_per_group(
        sym, ("src",), "dist", order="asc", n=1, tiebreak=("dst",), rank_col="__rn"
    ).select("src", "dst")
    mutual = (
        best.alias("b1")
        .join(
            best.alias("b2"),
            (F.col("b1.src") == F.col("b2.dst"))
            & (F.col("b1.dst") == F.col("b2.src")),
        )
        .filter(F.col("b1.src") < F.col("b1.dst"))
        .select(F.col("b1.src").alias("id_a"), F.col("b1.dst").alias("id_b"))
    )
    comp = dedup.connected_components(mutual)
    members = comp.join(
        c.select(F.col("c_custkey").alias("id"), "c_acctbal"), "id"
    )
    golden = rank.top_n_per_group(
        members, ("comp",), "c_acctbal", n=1, tiebreak=("id",), rank_col="__rn"
    ).select(F.col("comp"), F.col("id").alias("__golden"))
    csize = members.groupBy("comp").agg(F.count("*").alias("__n"))
    mapping = (
        members.join(golden, "comp")
        .join(csize, "comp")
        .select(F.col("id").alias("c_custkey"), "__golden", "__n")
    )
    return c.join(F.broadcast(mapping), "c_custkey", "left").select(
        "c_custkey",
        F.coalesce(F.col("__golden"), F.col("c_custkey")).alias("golden_custkey"),
        F.coalesce(F.col("__n"), F.lit(1)).cast("long").alias("n_merged"),
        (
            F.coalesce(F.col("__golden"), F.col("c_custkey"))
            == F.col("c_custkey")
        ).alias("is_golden"),
    )


@query(
    "er_blocking_quality",
    oracle="""
    -- stratum is SF-INVARIANT above sf0.1: the custkey cap fixes the truth
    -- set at <= 1500 names, so the declared |stratum|^2 audit cost stops
    -- growing with the corpus (sampled truth estimates recall/precision
    -- just as well)
    WITH c AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey % 10 = 0 AND c_custkey <= 15000),
    truth AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM c a JOIN c b ON a.c_custkey < b.c_custkey
      WHERE levenshtein(a.c_name, b.c_name) <= 2),
    cand AS (
      SELECT DISTINCT ka, kb FROM (
        SELECT a.c_custkey AS ka, b.c_custkey AS kb,
               a.c_name AS na, b.c_name AS nb
        FROM c a JOIN c b ON a.c_custkey < b.c_custkey
         AND substr(a.c_name, 10, 3) = substr(b.c_name, 10, 3)
        UNION ALL
        SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM c a JOIN c b ON a.c_custkey < b.c_custkey
         AND substr(a.c_name, 13, 3) = substr(b.c_name, 13, 3)
        UNION ALL
        SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM c a JOIN c b ON a.c_custkey < b.c_custkey
         AND substr(a.c_name, 16, 3) = substr(b.c_name, 16, 3))),
    hit AS (SELECT cand.ka, cand.kb FROM cand
            JOIN truth ON truth.ka = cand.ka AND truth.kb = cand.kb),
    m AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
                 (SELECT count(*) FROM cand) AS n_candidates,
                 (SELECT count(*) FROM hit) AS n_true_candidates)
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_candidates AS BIGINT) AS n_true_candidates,
           round(n_true_candidates * 1.0 / n_candidates, 6) AS precision,
           round(n_true_candidates * 1.0 / n_truth, 6) AS recall
    FROM m
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKING-QUALITY audit for the entity-resolution family
    (VERDICT_r06 #3): precision and recall of the pigeonhole substring
    blocking (the exact scheme ``fuzzy_customer_name_pairs`` /
    ``customer_golden_records`` ship) against a TRUTH SET of all
    levenshtein ≤ 2 name pairs, computed all-pairs on the same bounded
    deterministic stratum (custkey % 10 — the ``embedding_knn_label_spread``
    pattern: truth is exact but declared-bounded, so the audit costs
    |stratum|² name comparisons, not |corpus|²). Recall certifies the
    pigeonhole guarantee empirically (equal-length digit names make
    dist ≤ 2 pure substitutions, so ≥1 of 3 blocks must match → expect
    1.0 — a drop below flags a name-format drift that broke the blocking
    assumption); precision measures how much exact-verification work the
    blocks admit. One summary row: counts + both ratios."""
    c = (
        _t(spark, sf_dir, "customer")
        # the custkey cap makes the stratum SF-invariant above sf0.1
        # (<= 1500 names at any scale) — the truth cost stays bounded
        .filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") <= 15000))
        .select("c_custkey", "c_name")
    )
    a = c.select(F.col("c_custkey").alias("ka"), F.col("c_name").alias("na"))
    b = c.select(F.col("c_custkey").alias("kb"), F.col("c_name").alias("nb"))
    # the truth leg streams |stratum|² levenshtein evals through a BNLJ;
    # a single-file parquet stratum arrives as ONE partition, which would
    # serialize the whole quadratic pass on one core (dedup._spread rule)
    truth = (
        dedup._spread(a)
        .join(F.broadcast(b), F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("na", "nb") <= 2)
        .select("ka", "kb")
    )
    blocks = [(10, 3), (13, 3), (16, 3)]
    cand = None
    for pos, width in blocks:
        leg = a.join(
            b,
            (F.col("ka") < F.col("kb"))
            & (F.substring("na", pos, width) == F.substring("nb", pos, width)),
        ).select("ka", "kb", "na", "nb")
        cand = leg if cand is None else cand.unionAll(leg)
    cand = cand.distinct()
    # ONE pass over the candidate set for both counters: the total and the
    # levenshtein-verified subset are a single aggregate (a conditional
    # count), so the 3-leg union + distinct isn't executed once per counter
    counts = cand.agg(
        F.count("*").alias("n_candidates"),
        F.count(F.when(F.levenshtein("na", "nb") <= 2, 1)).alias(
            "n_true_candidates"
        ),
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    return (
        n_truth.crossJoin(F.broadcast(counts))
        .select(
            "n_truth",
            "n_candidates",
            "n_true_candidates",
            F.round(F.col("n_true_candidates") * 1.0 / F.col("n_candidates"), 6).alias(
                "precision"
            ),
            F.round(F.col("n_true_candidates") * 1.0 / F.col("n_truth"), 6).alias(
                "recall"
            ),
        )
    )


@query(
    "time_weighted_avg_value",
    oracle="""
    WITH h AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             epoch_us(lead(ts) OVER w) - epoch_us(ts) AS hold_us
      FROM events
      WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                   ORDER BY ts ASC, event_id ASC)),
    f AS (SELECT * FROM h WHERE hold_us IS NOT NULL)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           count(*) AS n_intervals,
           round(CAST(sum(CAST(round(value * hold_us, 6) AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(sum(hold_us) AS DOUBLE), 6) AS twap
    FROM f GROUP BY user_id, day
    HAVING sum(hold_us) > 0
    """,
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user-day over irregularly sampled
    events: each observation is weighted by how long it 'held' until the
    next one (lead-window microseconds), which a plain ``avg`` silently
    gets wrong on bursty feeds — the finance/IoT aggregation for sparse
    sensors. One key-partitioned window pass; value×holding products
    round into decimals before summation so the ratio is
    accumulation-order independent. Days with a single event (no held
    interval) drop out, as does each day's last observation — the
    standard left-Riemann convention."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    h = ev.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "value",
        # ts is TIMESTAMP_NTZ after the ns fixup; unix_micros wants LTZ —
        # the session TZ is UTC in both engines, so the cast is the identity
        (
            F.unix_micros(F.lead("ts").over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("hold_us"),
    ).filter(F.col("hold_us").isNotNull())
    return (
        h.groupBy("user_id", "day")
        .agg(
            F.count("*").alias("n_intervals"),
            (
                F.sum(
                    F.round(F.col("value") * F.col("hold_us"), 6).cast(
                        "decimal(38,6)"
                    )
                ).cast("double")
                / F.sum("hold_us").cast("double")
            ).alias("__twap"),
            F.sum("hold_us").alias("__tot"),
        )
        .filter(F.col("__tot") > 0)
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_intervals",
            F.round("__twap", 6).alias("twap"),
        )
    )


@query(
    "hourly_ohlc_bars",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_hour,
           first(value ORDER BY ts ASC, event_id ASC) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts ASC, event_id ASC) AS close,
           count(*) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
)
def hourly_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars per hour — open/close via ``min_by``/``max_by``
    on the (ts, event_id) struct (a deterministic argmin/argmax inside one
    hash aggregate; no window sort, no second pass), high/low as plain
    min/max. The market-data compaction every tick store runs; at 100 TB
    it is a single partial-agg'd groupBy on the truncated hour."""
    ev = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("__h"))
        .agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.date_format("__h", "yyyy-MM-dd HH:mm:ss").alias("bar_hour"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


@query(
    "copurchase_degree_assortativity",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n_orders
           FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2),
    edges AS (SELECT u, v FROM e0 WHERE n_orders >= 2),
    deg AS (SELECT n, count(*) AS d FROM (
              SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
            GROUP BY 1),
    je AS (SELECT du.d AS j, dv.d AS k
           FROM edges e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
    s AS (SELECT count(*) AS m,
                 CAST(sum(j * k) AS BIGINT) AS sjk,
                 CAST(sum(j + k) AS BIGINT) AS sj,
                 CAST(sum(j * j + k * k) AS BIGINT) AS sj2
          FROM je)
    SELECT CAST(m AS BIGINT) AS n_edges,
           round((sjk * 1.0 / m - pow(sj * 0.5 / m, 2))
                 / (sj2 * 0.5 / m - pow(sj * 0.5 / m, 2)), 6) AS assortativity
    FROM s
    """,
)
def copurchase_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the co-purchase graph: do
    well-connected parts co-occur with other hubs (r > 0) or with
    peripherals (r < 0)? The one-number mixing diagnostic that decides
    whether hub-targeted sampling or salting is worth it. Closed form
    over the edge list — Pearson correlation of endpoint degrees from
    three exact integer sums; one final double expression both engines
    share. Reuses the triangle query's edge/degree tables."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    je = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("d").alias("j")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("k")), "v")
        .select("j", "k")
    )
    s = je.agg(
        F.count("*").alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sjk"),
        F.sum(F.col("j") + F.col("k")).alias("sj"),
        F.sum(F.col("j") * F.col("j") + F.col("k") * F.col("k")).alias("sj2"),
    )
    m, sjk, sj, sj2 = (F.col(c) for c in ("m", "sjk", "sj", "sj2"))
    mean = sj * 0.5 / m
    return s.select(
        m.cast("long").alias("n_edges"),
        F.round(
            (sjk * 1.0 / m - F.pow(mean, 2)) / (sj2 * 0.5 / m - F.pow(mean, 2)),
            6,
        ).alias("assortativity"),
    )


@query("unpivot_udtf_twin", oracle=_UNPIVOT_ORACLE)
def unpivot_udtf_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The melt expressed through the POLYMORPHIC UDTF
    (``flatten.melt_numeric_udtf`` — output schema decided by
    ``analyze()`` from the struct argument's type): exact decimal
    aggregation FIRST (one row per flag), then the tiny aggregate melts
    through the table function — same oracle as the Expand-based
    ``unpivot_lineitem_measures``, so the two reshaping tiers are proven
    interchangeable. Melt-after-aggregate is the discipline: the UDTF
    only ever sees |flags| rows, never the corpus."""
    from ..operators.flatten import melt_numeric_udtf

    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(_dsum(F.col("l_quantity")), 2).alias("quantity"),
        F.round(_dsum(F.col("l_extendedprice")), 2).alias("extendedprice"),
        F.round(_dsum(F.col("l_discount")), 2).alias("discount"),
    )
    spark.udtf.register("melt_numeric", melt_numeric_udtf())
    return spark.sql(
        """
        SELECT d.l_returnflag, t.measure, t.value AS total
        FROM {agg} d,
        LATERAL melt_numeric(struct(d.quantity, d.extendedprice, d.discount)) t
        """,
        agg=agg,
    )


@query(
    "bm25_ndcg_eval",
    oracle="WITH " + _BM25_SCORES_SQL + r""",
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank1
           FROM bm25s QUALIFY rank1 <= 20),
    cos AS (
      SELECT c.vec_id AS doc_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosim
      FROM (SELECT * FROM embeddings WHERE vec_id = 0) q
      JOIN embeddings c ON c.vec_id <> 0),
    rel AS (SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (ORDER BY cosim DESC, doc_id ASC) AS rank2
              FROM cos) WHERE rank2 <= 20),
    dcg AS (SELECT CAST(sum(CAST(round(
                     CASE WHEN rel.doc_id IS NOT NULL
                          THEN 1.0 / log2(r1.rank1 + 1) ELSE 0.0 END, 12)
                   AS DECIMAL(30,12))) AS DOUBLE) AS dcg,
                   CAST(sum(CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
            FROM r1 LEFT JOIN rel ON rel.doc_id = r1.doc_id),
    idcg AS (SELECT CAST(sum(CAST(round(1.0 / log2(i + 1), 12)
                    AS DECIMAL(30,12))) AS DOUBLE) AS idcg
             FROM (SELECT unnest(range(1, 21)) AS i))
    SELECT dcg.n_hits, round(dcg.dcg, 6) AS dcg, round(idcg.idcg, 6) AS idcg,
           round(dcg.dcg / idcg.idcg, 6) AS ndcg_at_20
    FROM dcg CROSS JOIN idcg
    """,
)
def bm25_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: nDCG@20 of the BM25 list against the
    dense-cosine top-20 as binary ground truth — the retrieval-eval
    metric class next to the classification metrics (confusion matrix,
    kappa). All from integer ranks: each gain term 1/log2(rank+1) is an
    exact double both engines share, rounded into a decimal sum; the
    ideal DCG uses the full 20 slots (|relevant| = 20 by construction).
    Tiny joins over two ≤20-row rankings after the two scoring passes."""
    b = _bm25_scores(spark, sf_dir)
    r1 = rank.top_n_per_group(
        b, (), "bm25", n=20, tiebreak=("doc_id",), rank_col="rank1"
    ).select("doc_id", "rank1")
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0)
    rel = (
        similarity.cosine_topk_bruteforce(
            probe.select("vec_id", "embedding"),
            emb.select("vec_id", "embedding"),
            k=20,
        )
        .select(F.col("neighbor_id").alias("doc_id"), F.lit(1).alias("__rel"))
    )
    gain = F.round(
        F.when(F.col("__rel").isNotNull(), 1.0 / F.log2(F.col("rank1") + 1)).otherwise(
            0.0
        ),
        12,
    ).cast("decimal(30,12)")
    dcg = r1.join(F.broadcast(rel), "doc_id", "left").agg(
        F.sum(F.coalesce(F.col("__rel"), F.lit(0))).cast("long").alias("n_hits"),
        F.sum(gain).cast("double").alias("dcg"),
    )
    idcg = (
        spark.range(1, 21)
        .agg(
            F.sum(
                F.round(1.0 / F.log2(F.col("id") + 1), 12).cast("decimal(30,12)")
            )
            .cast("double")
            .alias("idcg")
        )
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "n_hits",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_20"),
    )


# The SQL replay of _truncation_top20: full-dim (r1) and 32-dim (r2) top-20.
_TRUNCATION_TOP20_CTES = """
    WITH b AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nf,
             sqrt(list_sum(list_transform(embedding[1:32], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nh
      FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id = 0),
    cos AS (
      SELECT c.vec_id AS doc_id,
             list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.nf * c.nf) AS cf,
             list_sum(list_transform(list_zip(q.embedding[1:32], c.embedding[1:32]),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (q.nh * c.nh) AS ch
      FROM q JOIN b c ON c.vec_id <> 0),
    r1 AS (SELECT doc_id, row_number() OVER (ORDER BY cf DESC, doc_id ASC) AS rank1
           FROM cos QUALIFY rank1 <= 20),
    r2 AS (SELECT doc_id, row_number() OVER (ORDER BY ch DESC, doc_id ASC) AS rank2
           FROM cos QUALIFY rank2 <= 20)"""


def _truncation_top20(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The cosine top-20 of probe vec_id 0 over the other embeddings, at full
    dimension (doc_id, rank1) and truncated to the first 32 dims
    (doc_id, rank2); doc_id breaks ties."""
    emb = _t(spark, sf_dir, "embeddings")
    half = F.slice(F.col("embedding"), 1, 32)
    b = emb.select(
        "vec_id",
        "embedding",
        half.alias("__hv"),
        similarity.l2_norm("embedding").alias("nf"),
        similarity.l2_norm(half).alias("nh"),
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("__qf"),
        F.col("__hv").alias("__qh"),
        F.col("nf").alias("__qnf"),
        F.col("nh").alias("__qnh"),
    )
    cos = b.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        (similarity.dot("__qf", "embedding") / (F.col("__qnf") * F.col("nf"))).alias("cf"),
        (similarity.dot("__qh", "__hv") / (F.col("__qnh") * F.col("nh"))).alias("ch"),
    )
    r1 = rank.top_n_per_group(
        cos, (), "cf", n=20, tiebreak=("doc_id",), rank_col="rank1"
    ).select("doc_id", "rank1")
    r2 = rank.top_n_per_group(
        cos, (), "ch", n=20, tiebreak=("doc_id",), rank_col="rank2"
    ).select("doc_id", "rank2")
    return r1, r2


@query(
    "truncation_rank_stability",
    oracle=_TRUNCATION_TOP20_CTES
    + """,
    common AS (
      SELECT r1.doc_id,
             row_number() OVER (ORDER BY r1.rank1 ASC) AS ra,
             row_number() OVER (ORDER BY r2.rank2 ASC) AS rb
      FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id),
    sp AS (SELECT count(*) AS m,
                  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sd2
           FROM common),
    kd AS (SELECT CAST(sum(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS conc,
                  CAST(sum(CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) < 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS disc
           FROM common a JOIN common b ON a.doc_id < b.doc_id)
    SELECT CAST(sp.m AS BIGINT) AS n_common,
           CASE WHEN sp.m >= 2 THEN
             round(1.0 - 6.0 * sp.sd2 / (sp.m * (sp.m * sp.m - 1.0)), 6)
           END AS spearman_rho,
           CASE WHEN sp.m >= 2 THEN
             round((kd.conc - kd.disc) * 2.0 / (sp.m * (sp.m - 1.0)), 6)
           END AS kendall_tau
    FROM sp CROSS JOIN kd
    """,
)
def truncation_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does Matryoshka truncation PRESERVE THE ORDER, not just the values?
    Spearman rho and Kendall tau between the full-dimension and
    half-dimension cosine top-20 for a probe — the rank-stability
    companion to ``embedding_truncation_fidelity``'s value-drift audit
    (an index can tolerate value drift but not order churn). Both
    statistics are ALL-INTEGER until one final division (Sum d-squared for
    rho; concordant-discordant pair counts for tau over the <=190 common
    pairs), so there is no float boundary anywhere; the pair self-join
    runs on <=20 rows. The common subset is re-ranked 1..m so the
    statistics stay well-defined."""
    from pyspark.sql import Window

    r1, r2 = _truncation_top20(spark, sf_dir)
    common = (
        r1.join(r2, "doc_id")
        .withColumn("ra", F.row_number().over(Window.orderBy(F.col("rank1").asc())))
        .withColumn("rb", F.row_number().over(Window.orderBy(F.col("rank2").asc())))
        .select("doc_id", "ra", "rb")
    )
    sp = common.agg(
        F.count("*").alias("m"),
        F.sum((F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))).alias(
            "sd2"
        ),
    )
    a = common.select(
        F.col("doc_id").alias("da"), F.col("ra").alias("raa"), F.col("rb").alias("rba")
    )
    bb = common.select(
        F.col("doc_id").alias("db"), F.col("ra").alias("rab"), F.col("rb").alias("rbb")
    )
    prod = (F.col("raa") - F.col("rab")) * (F.col("rba") - F.col("rbb"))
    kd = (
        a.join(bb, F.col("da") < F.col("db"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).alias("conc"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).alias("disc"),
        )
    )
    # m >= 2 guard (ADVICE r5): with fewer than 2 common docs both
    # denominators are 0 and the two engines disagree on the failure mode —
    # emit an agreed NULL instead (mirrored as CASE WHEN in the oracle)
    return sp.crossJoin(F.broadcast(kd)).select(
        F.col("m").cast("long").alias("n_common"),
        F.when(
            F.col("m") >= 2,
            F.round(
                1.0
                - 6.0 * F.col("sd2") / (F.col("m") * (F.col("m") * F.col("m") - 1.0)),
                6,
            ),
        ).alias("spearman_rho"),
        F.when(
            F.col("m") >= 2,
            F.round(
                (F.col("conc") - F.col("disc")) * 2.0
                / (F.col("m") * (F.col("m") - 1.0)),
                6,
            ),
        ).alias("kendall_tau"),
    )


@query(
    "hll_overlap_users",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    i AS (SELECT count(*) AS n_overlap FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c))
    SELECT (SELECT count(*) FROM p) AS n_purchasers,
           (SELECT count(*) FROM c) AS n_clickers,
           i.n_overlap AS n_exact_overlap,
           TRUE AS within_5pct
    FROM i
    """,
)
def hll_overlap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: estimated audience overlap |A∩B| from HLL
    sketches via inclusion–exclusion (|A| + |B| − |A∪B|, the union being
    the one operation HLL supports natively) — the segment-overlap
    question every audience platform answers without re-scanning either
    segment. Caveat stated where it belongs: I–E error is relative to the
    UNION, so a small true overlap inherits a large relative error — the
    5% gate here is honest for the observed high-overlap segments, and
    the exact counts (hash-matched) are the audit trail. Same
    driver-visible gating pattern as ``hll_mergeable_rollup``: exact
    columns hash-match, the tolerance boolean pins the sketch."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    c = ev.filter(F.col("event_type") == "click")
    sk = (
        p.agg(F.hll_sketch_agg("user_id", 14).alias("skp"))
        .crossJoin(F.broadcast(c.agg(F.hll_sketch_agg("user_id", 14).alias("skc"))))
        .crossJoin(
            F.broadcast(
                ev.filter(F.col("event_type").isin("purchase", "click")).agg(
                    F.hll_sketch_agg("user_id", 14).alias("sku")
                )
            )
        )
        .select(
            F.hll_sketch_estimate("skp").alias("ea"),
            F.hll_sketch_estimate("skc").alias("eb"),
            F.hll_sketch_estimate("sku").alias("eu"),
        )
    )
    exact = (
        p.select("user_id")
        .distinct()
        .intersect(c.select("user_id").distinct())
        .agg(F.count("*").alias("n_exact_overlap"))
        .crossJoin(
            F.broadcast(p.agg(F.countDistinct("user_id").alias("n_purchasers")))
        )
        .crossJoin(
            F.broadcast(c.agg(F.countDistinct("user_id").alias("n_clickers")))
        )
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "n_purchasers",
        "n_clickers",
        "n_exact_overlap",
        (
            F.abs(
                (F.col("ea") + F.col("eb") - F.col("eu"))
                - F.col("n_exact_overlap")
            )
            <= 0.05 * F.col("n_exact_overlap")
        ).alias("within_5pct"),
    )


@query(
    "theta_segment_algebra",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    i AS (SELECT count(*) AS n_exact_overlap FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c)),
    d AS (SELECT count(*) AS n_exact_only_purchase FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c))
    SELECT i.n_exact_overlap, d.n_exact_only_purchase,
           TRUE AS intersect_within_5pct, TRUE AS difference_within_5pct
    FROM i CROSS JOIN d
    """,
)
def theta_segment_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL sketch set algebra via Theta sketches (Datasketches): NATIVE
    ``theta_intersection`` and ``theta_difference`` — the operations HLL
    cannot do (``hll_overlap_users`` had to route through
    inclusion–exclusion, with its error amplification). Audience overlap
    AND exclusion (purchasers who never click) from three tiny sketches,
    no segment re-scan. Exact counts hash-match; the 5% booleans pin both
    estimates — the gating pattern of the sketch family."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    c = ev.filter(F.col("event_type") == "click")
    sk = (
        p.agg(F.theta_sketch_agg("user_id").alias("skp"))
        .crossJoin(
            F.broadcast(c.agg(F.theta_sketch_agg("user_id").alias("skc")))
        )
        .select(
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("skp"), F.col("skc"))
            ).alias("est_inter"),
            F.theta_sketch_estimate(
                F.theta_difference(F.col("skp"), F.col("skc"))
            ).alias("est_diff"),
        )
    )
    exact = (
        p.select("user_id")
        .distinct()
        .intersect(c.select("user_id").distinct())
        .agg(F.count("*").alias("n_exact_overlap"))
        .crossJoin(
            F.broadcast(
                p.select("user_id")
                .distinct()
                .exceptAll(c.select("user_id").distinct())
                .agg(F.count("*").alias("n_exact_only_purchase"))
            )
        )
    )
    return exact.crossJoin(F.broadcast(sk)).select(
        "n_exact_overlap",
        "n_exact_only_purchase",
        (
            F.abs(F.col("est_inter") - F.col("n_exact_overlap"))
            <= 0.05 * F.col("n_exact_overlap")
        ).alias("intersect_within_5pct"),
        (
            F.abs(F.col("est_diff") - F.col("n_exact_only_purchase"))
            <= 0.05 * F.col("n_exact_only_purchase")
        ).alias("difference_within_5pct"),
    )


@query(
    "kll_quantile_sketch_gate",
    oracle="""
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           count(*) AS n_events,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           TRUE AS sketch_within_5pct
    FROM events GROUP BY 1
    """,
)
def kll_quantile_sketch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches (Datasketches KLL): each month's value
    distribution is sketched in two INDEPENDENT halves (days 1–15 /
    16–end), the halves merge via ``kll_sketch_merge_double``, and the
    merged p50 must sit within 5% of the exact interpolated median — the
    re-aggregatable percentile shape ``percentile_approx`` can't express
    (GK estimates are final; KLL day-sketches roll up forever without
    re-scanning). Exact p50 hash-matches the oracle's ``quantile_cont``;
    the boolean pins the sketch."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.dayofmonth("ts").alias("dom"),
        "value",
    )
    # one grouping of one scan: the two half-sketches merge inside the
    # aggregate's result expression, next to the exact count and median
    per_month = ev.groupBy("month").agg(
        F.count("*").alias("n_events"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("p50_exact"),
        F.expr(
            "kll_sketch_get_quantile_double(kll_sketch_merge_double("
            "kll_sketch_agg_double(CASE WHEN dom <= 15 THEN value END),"
            " kll_sketch_agg_double(CASE WHEN dom > 15 THEN value END)), 0.5)"
        ).alias("p50_sketch"),
    )
    return per_month.select(
        "month",
        "n_events",
        "p50_exact",
        (
            F.abs(F.col("p50_sketch") - F.col("p50_exact"))
            <= 0.05 * F.abs(F.col("p50_exact"))
        ).alias("sketch_within_5pct"),
    )


@query(
    "user_trend_robust",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
    p AS (
      SELECT a.user_id,
             CASE WHEN b.value > a.value THEN 1
                  WHEN b.value < a.value THEN -1 ELSE 0 END AS sgn,
             (b.value - a.value) / ((b.t - a.t) / 86400000000.0) AS slope
      FROM e a JOIN e b ON a.user_id = b.user_id AND a.t < b.t)
    SELECT user_id, count(*) AS n_pairs,
           CAST(sum(sgn) AS BIGINT) AS mk_s,
           round(quantile_cont(slope, 0.5), 6) AS median_slope_per_day,
           CASE WHEN sum(sgn) > 0 THEN 'up'
                WHEN sum(sgn) < 0 THEN 'down' ELSE 'flat' END AS direction
    FROM p GROUP BY user_id
    """,
)
def user_trend_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-entity trend: Theil–Sen slope (median of all pairwise
    slopes — a single wild value cannot move it, unlike the OLS
    ``user_value_trend``) plus the Mann–Kendall S statistic (sum of
    pairwise signs — ALL-INTEGER, the nonparametric monotone-trend
    vote). The pair space is per-user (≤ C(events_per_user, 2) ≈ 5k
    rows/user here), generated by a key-partitioned self-join — at 100 TB
    this stays tractable exactly when per-entity history is bounded, and
    the docstring contract says so; entities with unbounded history get
    the windowed OLS instead. Equal-timestamp pairs are excluded on both
    sides (strict ``t_a < t_b``), which also keeps the slope division
    ANSI-safe. The exact slope median interpolates identically in both
    engines (``percentile`` ≡ ``quantile_cont``)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "value",
    )
    a = e.select(
        F.col("user_id"), F.col("t").alias("ta"), F.col("value").alias("va")
    )
    b = e.select(
        F.col("user_id"), F.col("t").alias("tb"), F.col("value").alias("vb")
    )
    p = a.join(b, "user_id").filter(F.col("ta") < F.col("tb")).select(
        "user_id",
        F.when(F.col("vb") > F.col("va"), 1)
        .when(F.col("vb") < F.col("va"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("vb") - F.col("va"))
            / ((F.col("tb") - F.col("ta")) / F.lit(86400000000.0))
        ).alias("slope"),
    )
    s = F.sum("sgn")
    return p.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        s.cast("long").alias("mk_s"),
        F.round(F.expr("percentile(slope, 0.5D)"), 6).alias(
            "median_slope_per_day"
        ),
        F.when(s > 0, "up").when(s < 0, "down").otherwise("flat").alias(
            "direction"
        ),
    )


@query(
    "customer_spend_theil",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS x
      FROM orders GROUP BY o_custkey),
    cn AS (
      SELECT n.n_name, s.x
      FROM spend s
      JOIN customer c ON c.c_custkey = s.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey),
    g AS (
      SELECT n_name, count(*) AS ng,
             CAST(sum(CAST(x AS DECIMAL(38,4))) AS DOUBLE) AS sg
      FROM cn GROUP BY n_name),
    tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                   CAST(sum(CAST(sg AS DECIMAL(38,4))) AS DOUBLE) AS s
            FROM g),
    tg AS (
      SELECT cn.n_name,
             CAST(sum(CAST(round((cn.x / (g.sg / g.ng))
                                 * ln(cn.x / (g.sg / g.ng)), 12)
                           AS DECIMAL(30,12))) AS DOUBLE) AS tsum
      FROM cn JOIN g ON g.n_name = cn.n_name
      GROUP BY cn.n_name),
    rows_ AS (
      SELECT g.n_name,
             CAST(g.ng AS BIGINT) AS n_customers,
             g.sg / g.ng AS mu_g,
             tg.tsum / g.ng AS theil_g,
             (g.ng * 1.0 / tot.n) * ((g.sg / g.ng) / (tot.s / tot.n))
               AS w_g,
             (g.ng * 1.0 / tot.n) * ((g.sg / g.ng) / (tot.s / tot.n))
               * ln((g.sg / g.ng) / (tot.s / tot.n)) AS between_c
      FROM g JOIN tg ON tg.n_name = g.n_name CROSS JOIN tot)
    SELECT n_name, n_customers,
           round(mu_g, 2) AS mean_spend,
           round(theil_g, 6) AS theil_group,
           round(between_c, 12) AS between_contrib,
           round(CAST(sum(CAST(round(between_c, 12) AS DECIMAL(30,12)))
                      OVER () AS DOUBLE), 6) AS theil_between,
           round(CAST(sum(CAST(round(w_g * theil_g, 12) AS DECIMAL(30,12)))
                      OVER () AS DOUBLE), 6) AS theil_within
    FROM rows_
    """,
)
def customer_spend_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer spend, DECOMPOSED by nation —
    unlike the Gini (``gini_customer_spend``) the Theil index splits
    exactly into between-group + within-group parts, which is what a
    concentration audit wants when asking "is spend inequality a
    geography story or an individuals story". Per nation: group mean,
    group Theil, and its between-contribution; the headline
    ``theil_between`` / ``theil_within`` ride along as unpartitioned-
    window decimal sums of contributions rounded at 12 dp (the
    ``order_price_psi`` order-independence pattern). Per-customer terms
    need only the (25-row, broadcast) group-mean table; every x > 0 by
    construction (customers WITH orders), so the logs are total."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        _dsum(F.col("o_totalprice")).alias("x")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = (
        spend.join(cust, spend.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .select("n_name", "x")
    )
    g = cn.groupBy("n_name").agg(
        F.count("*").alias("ng"),
        F.sum(F.col("x").cast("decimal(38,4)")).cast("double").alias("sg"),
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum(F.col("sg").cast("decimal(38,4)")).cast("double").alias("s"),
    )
    mu_g = F.col("sg") / F.col("ng")
    tg = (
        cn.join(F.broadcast(g), "n_name")
        .select(
            "n_name",
            F.round((F.col("x") / mu_g) * F.log(F.col("x") / mu_g), 12).alias(
                "term"
            ),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("term").cast("decimal(30,12)"))
            .cast("double")
            .alias("tsum")
        )
    )
    mu = F.col("s") / F.col("n")
    rows = (
        g.join(tg, "n_name")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("ng").cast("long").alias("n_customers"),
            mu_g.alias("mu_g"),
            (F.col("tsum") / F.col("ng")).alias("theil_g"),
            ((F.col("ng") * 1.0 / F.col("n")) * (mu_g / mu)).alias("w_g"),
            (
                (F.col("ng") * 1.0 / F.col("n"))
                * (mu_g / mu)
                * F.log(mu_g / mu)
            ).alias("between_c"),
        )
    )
    w0 = Window.partitionBy()
    return rows.select(
        "n_name",
        "n_customers",
        F.round("mu_g", 2).alias("mean_spend"),
        F.round("theil_g", 6).alias("theil_group"),
        F.round("between_c", 12).alias("between_contrib"),
        F.round(
            F.sum(F.round("between_c", 12).cast("decimal(30,12)"))
            .over(w0)
            .cast("double"),
            6,
        ).alias("theil_between"),
        F.round(
            F.sum(
                F.round(F.col("w_g") * F.col("theil_g"), 12).cast(
                    "decimal(30,12)"
                )
            )
            .over(w0)
            .cast("double"),
            6,
        ).alias("theil_within"),
    )


@query(
    "event_seasonality_heatmap",
    oracle="""
    SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
             AS dow,
           extract(hour FROM ts) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE)
                 / count(*), 4) AS mean_value
    FROM events GROUP BY 1, 2
    """,
)
def event_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heatmap: traffic, purchase counts and mean value
    by (day-of-week × hour) — the staffing/capacity grid next to the
    hour-only outlier gate (``seasonal_hour_outliers``), adding the weekly
    axis. Day-of-week comes from pure epoch-day arithmetic
    ``(days_since_epoch + 4) % 7`` (0 = Sunday): Spark's ``dayofweek`` and
    DuckDB's ``dayofweek`` NUMBER THE WEEK DIFFERENTLY, so neither builtin
    appears — the shared integer formula is the only portable form. One
    scan, one 168-key grouped aggregate with exact decimal value sums."""
    ev = _t(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        + 4
    ) % 7
    return (
        ev.groupBy(
            dow.cast("long").alias("dow"),
            # long, not Spark's int default: DuckDB's extract(hour) is
            # BIGINT and the typecheck tool flags the skew (benign for the
            # value-hash compare, but zero skews beats one)
            F.hour("ts").cast("long").alias("hour"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(30,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("mean_value"),
        )
    )


@query(
    "event_interarrival_stats",
    oracle="""
    WITH u AS (
      SELECT event_type, epoch_us(ts) AS us, event_id FROM events),
    g AS (
      SELECT event_type,
             us - lag(us) OVER (PARTITION BY event_type
                                ORDER BY us, event_id) AS gap
      FROM u),
    s AS (
      SELECT event_type, count(*) AS n_gaps,
             CAST(sum(CAST(gap AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS s2
      FROM g WHERE gap IS NOT NULL GROUP BY event_type)
    SELECT event_type, CAST(n_gaps AS BIGINT) AS n_gaps,
           round(s1 / n_gaps / 1000000.0, 6) AS mean_gap_s,
           round(sqrt((s2 - s1 * s1 / n_gaps) / (n_gaps - 1.0))
                 / (s1 / n_gaps), 6) AS cv
    FROM s
    """,
)
def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival statistics per event type: mean gap and coefficient of
    variation of consecutive-event spacing — the Poisson-ness check behind
    capacity planning and anomaly thresholds (CV ≈ 1 for a Poisson feed;
    ≫1 means bursty). Gaps are EXACT integer microseconds (``unix_micros``
    after the documented TIMESTAMP_NTZ cast == DuckDB ``epoch_us``), so the
    power sums are exact decimals and only the final mean/CV scalars touch
    doubles. One per-type ordered window (event-id tiebreak totalizes
    equal timestamps) + one grouped aggregate; partitions are per type, so
    the sort distributes."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    g = u.select(
        "event_type", (F.col("us") - F.lag("us").over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    s = g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum(F.col("gap").cast("decimal(38,0)")).cast("double").alias("s1"),
        # promote BEFORE the square: a large gap^2 overflows int64 under
        # the driver's ANSI session (DuckDB auto-promotes to HUGEINT)
        F.sum(F.col("gap").cast("decimal(19,0)") * F.col("gap"))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n_gaps")
    return s.select(
        "event_type",
        n.cast("long").alias("n_gaps"),
        F.round(F.col("s1") / n / 1000000.0, 6).alias("mean_gap_s"),
        F.round(
            F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1.0))
            / (F.col("s1") / n),
            6,
        ).alias("cv"),
    )


@query(
    "event_value_ks_drift",
    oracle="""
    WITH sided AS (
      SELECT value AS v,
             CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
      FROM events),
    per_v AS (SELECT v, CAST(sum(is_ref) AS BIGINT) AS nr,
                     CAST(sum(1 - is_ref) AS BIGINT) AS nc
              FROM sided GROUP BY v),
    cum AS (SELECT v,
                   sum(nr) OVER (ORDER BY v) AS cr,
                   sum(nc) OVER (ORDER BY v) AS cc,
                   sum(nr) OVER () AS tr,
                   sum(nc) OVER () AS tc
            FROM per_v),
    x AS (SELECT v, tr, tc, abs(cr * tc - cc * tr) AS num FROM cum),
    mx AS (SELECT max(num) AS mxn FROM x),
    a AS (SELECT CAST(max(tr) AS BIGINT) AS n_ref,
                 CAST(max(tc) AS BIGINT) AS n_cur,
                 round(CAST(max(num) AS DOUBLE) / (max(tr) * max(tc)), 6)
                   AS ks_stat,
                 round(min(CASE WHEN num = (SELECT mxn FROM mx) THEN v END), 6)
                   AS ks_at,
                 round(1.358 * sqrt(CAST(max(tr) + max(tc) AS DOUBLE)
                                    / (max(tr) * max(tc))), 6) AS crit_05
          FROM x)
    SELECT n_ref, n_cur, ks_stat, ks_at, crit_05,
           ks_stat > crit_05 AS drift
    FROM a
    """,
)
def event_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift gate on event values: first half
    of the month (ts < Jan 16) as reference vs second half as current.
    D = max |ECDF_ref − ECDF_cur| computed from EXACT integer cumulative
    counts (|cr·n_cur − cc·n_ref| — no float accumulation, the division and
    rounding happen once on the final scalar), plus the value at which the
    max gap occurs (min-value tie-break) and the α=0.05 critical value
    1.358·√((n₁+n₂)/(n₁n₂)); ``drift`` compares the two ROUNDED doubles so
    both engines flip identically. Complements ``order_price_psi`` (binned,
    distribution-free-ish) with the exact distribution-free test.

    The exact KS needs the globally ordered ECDF — here one unpartitioned
    window over |distinct values| rows (the fact table is pre-aggregated to
    value granularity before any sort). At 100 TB the documented bounded
    twin is the binned ECDF against broadcast quantile cutoffs (the PSI
    shape), traded away here so the oracle can pin exact KS semantics."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    sided = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("ts") < "2024-01-16", 1).otherwise(0).alias("is_ref"),
    )
    per_v = sided.groupBy("v").agg(
        F.sum("is_ref").cast("long").alias("nr"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("nc"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    x = per_v.select(
        "v",
        F.sum("nr").over(wall).alias("tr"),
        F.sum("nc").over(wall).alias("tc"),
        F.abs(
            F.sum("nr").over(wcum) * F.sum("nc").over(wall)
            - F.sum("nc").over(wcum) * F.sum("nr").over(wall)
        ).alias("num"),
    )
    a = x.agg(
        F.max("tr").cast("long").alias("n_ref"),
        F.max("tc").cast("long").alias("n_cur"),
        F.max("num").alias("mxn"),
        F.min(
            F.struct((-F.col("num")).alias("negn"), F.col("v").alias("v"))
        ).alias("best"),
    ).select(
        "n_ref",
        "n_cur",
        F.round(
            F.col("mxn").cast("double") / (F.col("n_ref") * F.col("n_cur")), 6
        ).alias("ks_stat"),
        F.round(F.col("best.v"), 6).alias("ks_at"),
        F.round(
            1.358
            * F.sqrt(
                (F.col("n_ref") + F.col("n_cur")).cast("double")
                / (F.col("n_ref") * F.col("n_cur"))
            ),
            6,
        ).alias("crit_05"),
    )
    return a.select(
        "*", (F.col("ks_stat") > F.col("crit_05")).alias("drift")
    )


@query(
    "ab_test_welch",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm, value
      FROM events WHERE event_type = 'purchase'),
    s AS (SELECT arm, count(*) AS n,
                 CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                 CAST(sum(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
          FROM g GROUP BY 1),
    w AS (SELECT
            max(CASE WHEN arm = 'A' THEN n END) AS na,
            max(CASE WHEN arm = 'B' THEN n END) AS nb,
            max(CASE WHEN arm = 'A' THEN s1 END) AS s1a,
            max(CASE WHEN arm = 'B' THEN s1 END) AS s1b,
            max(CASE WHEN arm = 'A' THEN s2 END) AS s2a,
            max(CASE WHEN arm = 'B' THEN s2 END) AS s2b
          FROM s),
    m AS (SELECT na, nb, s1a / na AS ma, s1b / nb AS mb,
                 (s2a - s1a * s1a / na) / (na - 1.0) / na AS va,
                 (s2b - s1b * s1b / nb) / (nb - 1.0) / nb AS vb
          FROM w)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
           round((ma - mb) / sqrt(va + vb), 6) AS welch_t,
           round(pow(va + vb, 2)
                 / (va * va / (na - 1.0) + vb * vb / (nb - 1.0)), 2) AS welch_df
    FROM m
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation: Welch's unequal-variance t-test between two user
    arms (hash-split by user id — the same append-stable assignment
    discipline as ``hash_split``) on purchase values, entirely from exact
    decimal power sums: one corpus scan → two (n, Σx, Σx²) triples → the
    t statistic and Welch–Satterthwaite df in one closed double
    expression both engines share bit-for-bit. The A/B readout a growth
    team runs at any scale for the cost of one aggregation."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    g = ev.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "value",
    )
    s = g.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}{arm.lower()}")
            for arm in ("A", "B")
            for c in ("n", "s1", "s2")
        ]
    )
    na, nb = F.col("na"), F.col("nb")
    ma, mb = F.col("s1a") / na, F.col("s1b") / nb
    va = (F.col("s2a") - F.col("s1a") * F.col("s1a") / na) / (na - 1.0) / na
    vb = (F.col("s2b") - F.col("s1b") * F.col("s1b") / nb) / (nb - 1.0) / nb
    return w.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round((ma - mb) / F.sqrt(va + vb), 6).alias("welch_t"),
        F.round(
            F.pow(va + vb, 2)
            / (va * va / (na - 1.0) + vb * vb / (nb - 1.0)),
            2,
        ).alias("welch_df"),
    )


@query(
    "ab_test_cuped",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(sum(CASE WHEN event_type = 'purchase'
                            AND ts < TIMESTAMP '2024-01-16'
                           THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END)
                  AS DOUBLE) AS pre,
             CAST(sum(CASE WHEN event_type = 'purchase'
                            AND ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END)
                  AS DOUBLE) AS post
      FROM events GROUP BY user_id),
    g AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(pre  AS DECIMAL(38,6))) AS DOUBLE) AS sp,
             CAST(sum(CAST(post AS DECIMAL(38,6))) AS DOUBLE) AS so,
             CAST(sum(CAST(pre * pre  AS DECIMAL(38,6))) AS DOUBLE) AS spp,
             CAST(sum(CAST(pre * post AS DECIMAL(38,6))) AS DOUBLE) AS spo
      FROM per_user),
    th AS (SELECT n, sp / n AS mp,
                  (spo - sp * so / n) / (spp - sp * sp / n) AS theta
           FROM g),
    s AS (
      SELECT arm, count(*) AS n,
             CAST(sum(CAST(pre  AS DECIMAL(38,6))) AS DOUBLE) AS sp,
             CAST(sum(CAST(post AS DECIMAL(38,6))) AS DOUBLE) AS so,
             CAST(sum(CAST(pre * pre   AS DECIMAL(38,6))) AS DOUBLE) AS spp,
             CAST(sum(CAST(post * post AS DECIMAL(38,6))) AS DOUBLE) AS soo,
             CAST(sum(CAST(pre * post  AS DECIMAL(38,6))) AS DOUBLE) AS spo
      FROM per_user GROUP BY arm),
    w AS (SELECT
            max(CASE WHEN arm = 'A' THEN n END) AS na,
            max(CASE WHEN arm = 'B' THEN n END) AS nb,
            max(CASE WHEN arm = 'A' THEN sp END) AS spa,
            max(CASE WHEN arm = 'B' THEN sp END) AS spb,
            max(CASE WHEN arm = 'A' THEN so END) AS soa,
            max(CASE WHEN arm = 'B' THEN so END) AS sob,
            max(CASE WHEN arm = 'A' THEN spp END) AS sppa,
            max(CASE WHEN arm = 'B' THEN spp END) AS sppb,
            max(CASE WHEN arm = 'A' THEN soo END) AS sooa,
            max(CASE WHEN arm = 'B' THEN soo END) AS soob,
            max(CASE WHEN arm = 'A' THEN spo END) AS spoa,
            max(CASE WHEN arm = 'B' THEN spo END) AS spob
          FROM s),
    m AS (
      SELECT na, nb, theta,
             (soa - theta * (spa - na * mp)) / na AS ma,
             (sob - theta * (spb - nb * mp)) / nb AS mb,
             (sooa - soa * soa / na) / (na - 1.0) AS vra,
             (soob - sob * sob / nb) / (nb - 1.0) AS vrb,
             ((sooa - 2 * theta * (spoa - mp * soa)
               + theta * theta * (sppa - 2 * mp * spa + na * mp * mp))
              - na * pow((soa - theta * (spa - na * mp)) / na, 2))
               / (na - 1.0) AS vaa,
             ((soob - 2 * theta * (spob - mp * sob)
               + theta * theta * (sppb - 2 * mp * spb + nb * mp * mp))
              - nb * pow((sob - theta * (spb - nb * mp)) / nb, 2))
               / (nb - 1.0) AS vab,
             soa / na AS mra, sob / nb AS mrb
      FROM w CROSS JOIN th)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(theta, 6) AS theta,
           round(ma, 6) AS mean_adj_a, round(mb, 6) AS mean_adj_b,
           round((mra - mrb) / sqrt(vra / na + vrb / nb), 6) AS welch_t_raw,
           round((ma - mb) / sqrt(vaa / na + vab / nb), 6) AS welch_t_adj,
           round(100 * (1 - (vaa / na + vab / nb) / (vra / na + vrb / nb)), 2)
             AS var_reduction_pct
    FROM m
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, *Improving the
    Sensitivity of Online Controlled Experiments*): per-user PRE-period
    purchase spend (first half of the month) as the covariate for the
    POST-period metric, pooled θ = cov(pre,post)/var(pre), adjusted metric
    ``post − θ(pre − mean_pre)``, then Welch's t on raw vs adjusted plus
    the achieved variance-reduction percentage — the standard lever that
    makes the same experiment detect smaller effects. EVERYTHING derives
    from seven exact decimal power sums per arm plus three pooled ones —
    the adjusted mean/variance expand algebraically (Σadj, Σadj² in terms
    of Σpre, Σpost, Σpre², Σpost², Σpre·post, θ, m̄) so no second pass and
    no per-user float accumulation; both engines evaluate the identical
    closed-form scalar tree. One fact scan → per-user rollup → 2-arm power
    sums; at any scale this is a groupBy(user) and a 2-row aggregate."""
    ev = _t(spark, sf_dir, "events")
    is_purch = F.col("event_type") == "purchase"
    pre_c = F.when(
        is_purch & (F.col("ts") < "2024-01-16"), F.col("value").cast("decimal(38,6)")
    ).otherwise(F.lit(0).cast("decimal(38,6)"))
    post_c = F.when(
        is_purch & (F.col("ts") >= "2024-01-16"), F.col("value").cast("decimal(38,6)")
    ).otherwise(F.lit(0).cast("decimal(38,6)"))
    per_user = ev.groupBy("user_id").agg(
        F.sum(pre_c).cast("double").alias("pre"),
        F.sum(post_c).cast("double").alias("post"),
    )
    per_user = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "pre",
        "post",
    )

    g = per_user.agg(
        F.count("*").alias("n"),
        _dsum(F.col("pre"), 6).alias("sp"),
        _dsum(F.col("post"), 6).alias("so"),
        _dsum(F.col("pre") * F.col("pre"), 6).alias("spp"),
        _dsum(F.col("pre") * F.col("post"), 6).alias("spo"),
    )
    th = g.select(
        (F.col("sp") / F.col("n")).alias("mp"),
        (
            (F.col("spo") - F.col("sp") * F.col("so") / F.col("n"))
            / (F.col("spp") - F.col("sp") * F.col("sp") / F.col("n"))
        ).alias("theta"),
    )
    s = per_user.groupBy("arm").agg(
        F.count("*").alias("n"),
        _dsum(F.col("pre"), 6).alias("sp"),
        _dsum(F.col("post"), 6).alias("so"),
        _dsum(F.col("pre") * F.col("pre"), 6).alias("spp"),
        _dsum(F.col("post") * F.col("post"), 6).alias("soo"),
        _dsum(F.col("pre") * F.col("post"), 6).alias("spo"),
    )
    w = s.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}{arm.lower()}")
            for arm in ("A", "B")
            for c in ("n", "sp", "so", "spp", "soo", "spo")
        ]
    )
    x = w.crossJoin(F.broadcast(th))
    na, nb, theta, mp = F.col("na"), F.col("nb"), F.col("theta"), F.col("mp")
    adj_sum_a = F.col("soa") - theta * (F.col("spa") - na * mp)
    adj_sum_b = F.col("sob") - theta * (F.col("spb") - nb * mp)
    ma, mb = adj_sum_a / na, adj_sum_b / nb
    adj_sq_a = (
        F.col("sooa")
        - 2 * theta * (F.col("spoa") - mp * F.col("soa"))
        + theta * theta * (F.col("sppa") - 2 * mp * F.col("spa") + na * mp * mp)
    )
    adj_sq_b = (
        F.col("soob")
        - 2 * theta * (F.col("spob") - mp * F.col("sob"))
        + theta * theta * (F.col("sppb") - 2 * mp * F.col("spb") + nb * mp * mp)
    )
    vaa = (adj_sq_a - na * F.pow(ma, 2)) / (na - 1.0)
    vab = (adj_sq_b - nb * F.pow(mb, 2)) / (nb - 1.0)
    vra = (F.col("sooa") - F.col("soa") * F.col("soa") / na) / (na - 1.0)
    vrb = (F.col("soob") - F.col("sob") * F.col("sob") / nb) / (nb - 1.0)
    mra, mrb = F.col("soa") / na, F.col("sob") / nb
    return x.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(theta, 6).alias("theta"),
        F.round(ma, 6).alias("mean_adj_a"),
        F.round(mb, 6).alias("mean_adj_b"),
        F.round((mra - mrb) / F.sqrt(vra / na + vrb / nb), 6).alias("welch_t_raw"),
        F.round((ma - mb) / F.sqrt(vaa / na + vab / nb), 6).alias("welch_t_adj"),
        F.round(
            100 * (1 - (vaa / na + vab / nb) / (vra / na + vrb / nb)), 2
        ).alias("var_reduction_pct"),
    )


@query(
    "ab_test_mannwhitney",
    oracle="""
    WITH g AS (
      SELECT value AS v, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type = 'purchase'),
    per_v AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(a) AS BIGINT) AS cnt_a
              FROM g GROUP BY v),
    cum AS (SELECT v, cnt, cnt_a,
                   CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
            FROM per_v),
    s AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
                 CAST(sum(cnt - cnt_a) AS BIGINT) AS nb,
                 CAST(sum(cnt_a * (2 * c - cnt + 1)) AS BIGINT) AS two_ra,
                 CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie3
          FROM cum),
    m AS (SELECT na, nb,
                 (two_ra - na * (na + 1)) / 2.0 AS ua,
                 na * nb / 2.0 AS mu,
                 na * nb / 12.0
                   * ((na + nb + 1)
                      - CAST(tie3 AS DOUBLE)
                        / ((na + nb) * (na + nb - 1.0))) AS var
          FROM s)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(ua, 1) AS u_a,
           round((ua - mu) / sqrt(var), 6) AS mw_z
    FROM m
    """,
)
def ab_test_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation, rank-based: Mann–Whitney U between the same two
    hash-split arms as ``ab_test_welch``, from EXACT integer rank algebra —
    per distinct value the doubled midrank is ``2·cum − cnt + 1`` (always
    integer), so the doubled rank-sum ``Σ cnt_a·(2c − cnt + 1)`` and the
    tie-correction ``Σ(t³ − t)`` accumulate as BIGINTs; floats appear only
    in the final U / z scalars both engines compute from identical
    integers. The distribution-free complement to Welch's t (robust to the
    heavy-tailed purchase values); normal approximation with tie-corrected
    variance. Pooled ranking = one unpartitioned window over |distinct
    values| rows after value-granularity pre-aggregation (the
    ``event_value_ks_drift`` posture — the bounded twin at warehouse scale
    is binned midranks from broadcast quantile cutoffs)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    g = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("a"),
    )
    per_v = g.groupBy("v").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("a").cast("long").alias("cnt_a"),
    )
    cum = per_v.withColumn(
        "c",
        F.sum("cnt")
        .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    s = cum.agg(
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("nb"),
        F.sum(F.col("cnt_a") * (2 * F.col("c") - F.col("cnt") + 1))
        .cast("long")
        .alias("two_ra"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie3"),
    )
    na, nb = F.col("na"), F.col("nb")
    ua = (F.col("two_ra") - na * (na + 1)) / 2.0
    mu = na * nb / 2.0
    var = (
        na
        * nb
        / 12.0
        * (
            (na + nb + 1)
            - F.col("tie3").cast("double") / ((na + nb) * (na + nb - 1.0))
        )
    )
    return s.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(ua, 1).alias("u_a"),
        F.round((ua - mu) / F.sqrt(var), 6).alias("mw_z"),
    )


@query(
    "ab_conversion_ztest",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id),
    s AS (SELECT
            CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS x1,
            CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS x2
          FROM u)
    SELECT n1, n2, x1, x2,
           round(x1 * 1.0 / n1, 6) AS p1, round(x2 * 1.0 / n2, 6) AS p2,
           round((x1 * 1.0 / n1 - x2 * 1.0 / n2)
                 / sqrt(((x1 + x2) * 1.0 / (n1 + n2))
                        * (1.0 - (x1 + x2) * 1.0 / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 6) AS z
    FROM s
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation, the proportion side: pooled two-proportion z-test
    on per-user conversion (14+ purchases — every synthetic user buys at
    least once, so the outcome must be a threshold to carry variance)
    between the two hash arms. ALL-INTEGER counts until the final z expression — nothing
    for partial-agg order to move. One grouped pass to per-user
    conversion flags, one 4-cell aggregate."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= 14
        )
        .cast("int")
        .alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        "converted",
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("arm") == "A", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("arm") == "B", F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    p1 = F.col("x1") / F.col("n1")
    p2 = F.col("x2") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")) / (F.col("n1") + F.col("n2"))
    return s.select(
        "n1",
        "n2",
        "x1",
        "x2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(
            (p1 - p2)
            / F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
            6,
        ).alias("z"),
    )


@query(
    "daily_revenue_changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DECIMAL(38,4)) AS rev
      FROM orders GROUP BY 1),
    t AS (SELECT count(*) AS n, CAST(sum(rev) AS DOUBLE) / count(*) AS mu FROM d),
    c AS (SELECT day, rev,
                 row_number() OVER (ORDER BY day ASC) AS i,
                 CAST(sum(rev) OVER (ORDER BY day ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
          FROM d),
    s AS (SELECT c.day, c.i, t.n, c.cum - c.i * t.mu AS cusum
          FROM c CROSS JOIN t),
    pick AS (SELECT * FROM (
               SELECT *, row_number() OVER (ORDER BY abs(cusum) DESC, day ASC) AS rn
               FROM s) WHERE rn = 1)
    SELECT strftime(pick.day, '%Y-%m-%d') AS changepoint_day,
           CAST(pick.n AS BIGINT) AS n_days,
           round(pick.cusum, 2) AS cusum,
           round((SELECT CAST(sum(rev) AS DOUBLE) FROM d WHERE day <= pick.day)
                 / pick.i, 2) AS mean_before,
           round((SELECT CAST(sum(rev) AS DOUBLE) FROM d WHERE day > pick.day)
                 / (pick.n - pick.i), 2) AS mean_after
    FROM pick
    """,
)
def daily_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection via CUSUM: the day where the
    cumulative deviation from the global mean peaks in magnitude is the
    single most likely level-shift point — the monitoring primitive
    behind 'when did revenue actually change', one step beyond the
    per-point outlier flags (``rolling_zscore``). Daily revenues are
    exact decimals, so the cumulative sums are order-independent; the
    CUSUM itself is one ordered window over |days| rows (the aggregate,
    never the orders), and the argmax is a deterministic top-1. Pre/post
    means from the same decimal sums, split at the chosen day."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("decimal(38,4)")
        .alias("rev")
    )
    t = d.agg(
        F.count("*").alias("n"),
        (F.sum("rev").cast("double") / F.count("*")).alias("mu"),
    )
    wd = Window.orderBy(F.col("day").asc())
    c = d.select(
        "day",
        "rev",
        F.row_number().over(wd).alias("i"),
        F.sum("rev")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("cum"),
    )
    s = c.crossJoin(F.broadcast(t)).withColumn(
        "cusum", F.col("cum") - F.col("i") * F.col("mu")
    )
    pick = rank.top_n_per_group(
        s, (), F.abs(F.col("cusum")), n=1, tiebreak=("day",), rank_col="__rn"
    ).select("day", "i", "n", "cusum")
    sums = d.crossJoin(F.broadcast(pick.select(F.col("day").alias("__cp")))).agg(
        F.sum(F.when(F.col("day") <= F.col("__cp"), F.col("rev")))
        .cast("double")
        .alias("sum_before"),
        F.sum(F.when(F.col("day") > F.col("__cp"), F.col("rev")))
        .cast("double")
        .alias("sum_after"),
    )
    return pick.crossJoin(F.broadcast(sums)).select(
        F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
        F.col("n").cast("long").alias("n_days"),
        F.round("cusum", 2).alias("cusum"),
        F.round(F.col("sum_before") / F.col("i"), 2).alias("mean_before"),
        F.round(F.col("sum_after") / (F.col("n") - F.col("i")), 2).alias(
            "mean_after"
        ),
    )


@query(
    "time_to_purchase_km",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(floor((epoch_us(min(CASE WHEN event_type = 'purchase' THEN ts END))
                         - epoch_us(min(ts))) / 3600000000.0) AS BIGINT) AS ttp_h
      FROM events GROUP BY user_id),
    subj AS (
      SELECT user_id,
             CASE WHEN user_id % 5 = 0 AND ttp_h >= 2 THEN 2 ELSE ttp_h END AS t,
             CASE WHEN user_id % 5 = 0 AND ttp_h >= 2 THEN 0 ELSE 1 END AS ev
      FROM u),
    n AS (SELECT count(*) AS total FROM subj),
    per_t AS (SELECT t, count(*) AS leaving, CAST(sum(ev) AS BIGINT) AS d
              FROM subj GROUP BY t),
    risk AS (
      SELECT t, d, n.total
             - coalesce(CAST(sum(leaving) OVER (ORDER BY t ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
             AS n_risk
      FROM per_t CROSS JOIN n),
    km AS (
      SELECT t, d, n_risk,
             CAST(sum(CAST(round(CASE WHEN d < n_risk
                                      THEN ln(1.0 - d * 1.0 / n_risk)
                                      ELSE 0.0 END, 12) AS DECIMAL(30,12)))
                  OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS lnsum,
             max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS dead
      FROM risk)
    SELECT t AS t_hours, n_risk, d AS n_events,
           round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(lnsum) END, 6) AS s_km
    FROM km WHERE d > 0
    """,
)
def time_to_purchase_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis: Kaplan–Meier estimator of time-to-first-purchase
    (hours from a user's first activity), with right-censoring — users in
    the synthetic '%5 cohort' are observed only two hours, so a later
    first purchase is censored at t=2 (they leave the risk set without an
    event; ignoring censoring would bias S(t) down, which is the whole
    point of KM over the naive empirical curve). The product-limit runs
    as exp(Σ ln(1−d/n)) with per-term rounding into a decimal windowed
    sum, and a run-once 'risk set exhausted' flag pins S=0 exactly where
    d = n (ln would blow up). All corpus work is one grouped pass to
    per-user (time, event); the KM table itself is |distinct times| rows."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.floor(
            (
                F.unix_micros(
                    F.min(
                        F.when(F.col("event_type") == "purchase", F.col("ts"))
                    ).cast("timestamp")
                )
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 3600000000.0
        )
        .cast("long")
        .alias("ttp_h")
    )
    censored = (F.col("user_id") % 5 == 0) & (F.col("ttp_h") >= 2)
    subj = u.select(
        F.when(censored, 2).otherwise(F.col("ttp_h")).alias("t"),
        F.when(censored, 0).otherwise(1).alias("ev"),
    )
    n = subj.agg(F.count("*").alias("total"))
    per_t = subj.groupBy("t").agg(
        F.count("*").alias("leaving"), F.sum("ev").cast("long").alias("d")
    )
    wt = Window.orderBy(F.col("t").asc())
    risk = per_t.crossJoin(F.broadcast(n)).select(
        "t",
        "d",
        (
            F.col("total")
            - F.coalesce(
                F.sum("leaving").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    term = F.round(
        F.when(
            F.col("d") < F.col("n_risk"),
            F.log(1.0 - F.col("d") / F.col("n_risk")),
        ).otherwise(0.0),
        12,
    ).cast("decimal(30,12)")
    km = risk.select(
        "t",
        "d",
        "n_risk",
        F.sum(term)
        .over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("lnsum"),
        F.max(F.when(F.col("d") == F.col("n_risk"), 1).otherwise(0))
        .over(wt.rowsBetween(Window.unboundedPreceding, 0))
        .alias("dead"),
    )
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("t_hours"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(
            F.when(F.col("dead") == 1, 0.0).otherwise(F.exp(F.col("lnsum"))), 6
        ).alias("s_km"),
    )


@query(
    "peak_concurrent_sessions",
    oracle=_SESSION_RUNS_CTES
    + """,
    sessions AS (
      SELECT user_id * 1000000 + run AS sid, min(ts) AS s, max(ts) AS e
      FROM runs GROUP BY user_id, run),
    marks AS (
      SELECT s AS t, 1 AS delta, sid FROM sessions
      UNION ALL
      SELECT e, -1, sid FROM sessions),
    sweep AS (
      SELECT t, sum(delta) OVER (ORDER BY t ASC, delta DESC, sid ASC
                                 ROWS UNBOUNDED PRECEDING) AS live
      FROM marks)
    SELECT strftime(date_trunc('hour', t), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(max(live) AS BIGINT) AS peak_concurrent
    FROM sweep GROUP BY 1
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per hour via the SWEEP LINE: sessions (30-min gap
    sessionization, same machinery as ``session_overlap_pairs``) become
    +1/−1 boundary marks, one global ordered running sum gives the live
    count at every boundary, and the hourly max is the capacity-planning
    number an infra team actually provisions against. Tie convention is
    explicit and total: at an equal instant, starts (+1) process before
    ends (−1) — touching sessions count as concurrent — with the session
    id as the final tiebreak, so the running sum is engine-independent.
    The global ordered window runs over 2·|sessions| marks, not events;
    the scale path is per-day partitioned sweeps with carried-in offsets."""
    from pyspark.sql import Window

    runs = _session_runs(spark, sf_dir)
    sessions = (
        runs.groupBy("user_id", "run")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
        .select(
            (F.col("user_id") * 1000000 + F.col("run")).alias("sid"), "s", "e"
        )
    )
    marks = sessions.select(
        F.col("s").alias("t"), F.lit(1).alias("delta"), "sid"
    ).unionAll(
        sessions.select(F.col("e").alias("t"), F.lit(-1).alias("delta"), "sid")
    )
    sweep_w = Window.orderBy(
        F.col("t").asc(), F.col("delta").desc(), F.col("sid").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    sweep = marks.select("t", F.sum("delta").over(sweep_w).alias("live"))
    return sweep.groupBy(
        F.date_format(F.date_trunc("hour", "t"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        )
    ).agg(F.max("live").cast("long").alias("peak_concurrent"))


@query(
    "truncation_rank_rbo",
    oracle=_TRUNCATION_TOP20_CTES
    + """,
    common AS (SELECT greatest(r1.rank1, r2.rank2) AS m
               FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id),
    depths AS (SELECT unnest(range(1, 21)) AS d),
    xd AS (SELECT d.d,
                  CAST(sum(CASE WHEN c.m <= d.d THEN 1 ELSE 0 END) AS BIGINT) AS x
           FROM depths d CROSS JOIN common c GROUP BY d.d),
    terms AS (SELECT d, x,
                     round(0.1 * pow(0.9, d - 1) * x / d, 12) AS term
              FROM xd)
    SELECT CAST((SELECT count(*) FROM common) AS BIGINT) AS n_common,
           CAST(max(CASE WHEN d = 20 THEN x END) AS BIGINT) AS overlap_at_20,
           round(CAST(sum(CAST(term AS DECIMAL(30,12))) AS DOUBLE), 6) AS rbo_min
    FROM terms
    """,
)
def truncation_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al., TOIS'10) between the full- and
    half-dimension cosine top-20 — the TOP-WEIGHTED list-similarity
    measure that completes the ranking toolkit (nDCG weights relevance;
    ρ/τ treat all positions equally; RBO's geometric p=0.9 weights say
    disagreement at rank 1 matters most — the right lens when only the
    head of the ANN result is ever shown). Truncated lower-bound form:
    Σ (1−p)·p^{d−1}·X_d/d with X_d = |prefix intersection at depth d|,
    computed from each common doc's max(rank1, rank2) — integers
    throughout; the 20 weighted terms round into a decimal sum. All work
    after the two scoring passes runs on ≤20-row tables."""
    r1, r2 = _truncation_top20(spark, sf_dir)
    common = r1.join(r2, "doc_id").select(
        F.greatest(F.col("rank1"), F.col("rank2")).alias("m")
    )
    depths = spark.range(1, 21).select(F.col("id").alias("d"))
    xd = depths.crossJoin(F.broadcast(common)).groupBy("d").agg(
        F.sum(F.when(F.col("m") <= F.col("d"), 1).otherwise(0))
        .cast("long")
        .alias("x")
    )
    terms = xd.select(
        "d",
        "x",
        F.round(
            0.1 * F.pow(F.lit(0.9), F.col("d") - 1) * F.col("x") / F.col("d"), 12
        ).alias("term"),
    )
    nc = common.agg(F.count("*").alias("n_common"))
    return (
        terms.agg(
            F.max(F.when(F.col("d") == 20, F.col("x")))
            .cast("long")
            .alias("overlap_at_20"),
            F.round(F.sum(F.col("term").cast("decimal(30,12)")).cast("double"), 6).alias(
                "rbo_min"
            ),
        )
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_common").cast("long").alias("n_common"),
            "overlap_at_20",
            "rbo_min",
        )
    )


def _geo_oracle() -> str:
    """Generated so the longitude scale constant is the SAME Python double
    the operator embeds (one generator, no literal drift)."""
    import math

    from ..operators.geo import M_PER_DEG_LAT

    m_per_deg_lon = M_PER_DEG_LAT * math.cos(math.radians(45.5))
    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             45.0 + CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                    / 4294967296.0 AS lat,
             7.0 + 2.0 * (CAST('0x' || substr(md5('g' || CAST(c_custkey AS VARCHAR)), 1, 8) AS BIGINT)
                    / 4294967296.0) AS lon
      FROM customer),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             sqrt(pow((b.lat - a.lat) * {M_PER_DEG_LAT!r}, 2)
                + pow((b.lon - a.lon) * {m_per_deg_lon!r}, 2)) AS dist
      FROM pts a JOIN pts b ON a.id < b.id)
    SELECT id_a, id_b, round(dist, 2) AS dist_m
    FROM pairs WHERE dist <= 2000.0
    """


@query("geo_customer_neighbor_pairs", oracle=_geo_oracle())
def geo_customer_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join via grid-cell blocking (``geo.
    within_distance_pairs``): customers placed deterministically (portable
    md5 uniforms) in a 1°×2° region, all pairs within 2 km. The engine
    side blocks on a radius-covering lat/lon grid (3×3 probe explode →
    cell equi-join → exact verify — Σ|cell|² work, the spatial member of
    the blocking-join family); the oracle states the naive quadratic
    definition, so the green row certifies the blocking's COMPLETE recall.
    The distance is equirectangular with a fixed literal longitude scale:
    multiply/add/sqrt only, bit-identical across engines (haversine's
    libm trig would leave ulp room at the threshold)."""
    from ..operators import geo, sampling

    c = _t(spark, sf_dir, "customer")
    u_lat = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    u_lon = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("g"), F.col("c_custkey").cast("string"))), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        / F.lit(4294967296.0)
    )
    pts = c.select(
        F.col("c_custkey").alias("cid"),
        (F.lit(45.0) + u_lat).alias("lat"),
        (F.lit(7.0) + 2.0 * u_lon).alias("lon"),
    )
    _ = sampling  # portable-hash convention documented there
    return geo.within_distance_pairs(
        pts, "cid", "lat", "lon", max_m=2000.0, mid_lat_deg=45.5
    )


@query(
    "benford_price_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(floor(o_totalprice / power(10, floor(log10(o_totalprice)))) AS BIGINT)
               AS digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
    x AS (SELECT c.digit, c.n, t.total,
                 log10(1.0 + 1.0 / c.digit) AS p_benford
          FROM c CROSS JOIN t)
    SELECT digit, n,
           round(n * 1.0 / total, 6) AS observed,
           round(p_benford, 6) AS expected,
           round(pow(n - total * p_benford, 2) / (total * p_benford), 6)
             AS chi2_term
    FROM x
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order prices — the forensic data-quality
    check for fabricated or truncated numeric columns: leading-digit
    frequencies vs log10(1+1/d), with per-digit χ² contributions (a large
    χ² on real money data flags synthetic generation or unit bugs — on
    TPC-H's uniform prices it SHOULD flag, which is the point of an
    audit). Pure expressions over one scan → 9 rows; the total broadcasts
    back. Both engines compute the identical doubles: floor/log10/pow on
    exact integers."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    p = F.log10(1.0 + 1.0 / F.col("digit"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("observed"),
            F.round(p, 6).alias("expected"),
            F.round(
                F.pow(F.col("n") - F.col("total") * p, 2)
                / (F.col("total") * p),
                6,
            ).alias("chi2_term"),
        )
    )


@query(
    "lang_source_chisq",
    oracle="""
    WITH j AS (SELECT lang, source, count(*) AS nxy FROM documents GROUP BY 1, 2),
    mx AS (SELECT lang, CAST(sum(nxy) AS BIGINT) AS nx FROM j GROUP BY 1),
    my AS (SELECT source, CAST(sum(nxy) AS BIGINT) AS ny FROM j GROUP BY 1),
    t AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM j),
    grid AS (SELECT mx.lang, my.source, mx.nx, my.ny, t.n,
                    coalesce(j.nxy, 0) AS nxy,
                    mx.nx * my.ny * 1.0 / t.n AS e
             FROM mx CROSS JOIN my CROSS JOIN t
             LEFT JOIN j ON j.lang = mx.lang AND j.source = my.source)
    SELECT CAST(max(n) AS BIGINT) AS n_docs,
           count(*) AS n_cells,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT)
             AS dof,
           round(CAST(sum(CAST(round(pow(nxy - e, 2) / e, 9)
                              AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2,
           round(sqrt(CAST(sum(CAST(round(pow(nxy - e, 2) / e, 9)
                              AS DECIMAL(30,12))) AS DOUBLE)
                      / (max(n) * least(count(DISTINCT lang) - 1,
                                        count(DISTINCT source) - 1))), 6)
             AS cramers_v
    FROM grid
    """,
)
def lang_source_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence test between language and source (+ Cramér's V
    effect size) — the categorical-dependence gate next to the mutual
    information query: is the language mix uniform across crawl sources,
    or does some source skew? Full |langs|×|sources| grid INCLUDING
    zero cells (a missing cell still contributes its expectation to χ²) —
    built from the two broadcast marginals, not a dense scan. Per-cell
    terms round at 9 then decimal-sum, so the headline χ² is
    accumulation-order independent."""
    docs = _t(spark, sf_dir, "documents")
    j = docs.groupBy("lang", "source").agg(F.count("*").alias("nxy"))
    mx = j.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    my = j.groupBy("source").agg(F.sum("nxy").alias("ny"))
    t = j.agg(F.sum("nxy").alias("n"))
    grid = (
        mx.crossJoin(F.broadcast(my))
        .crossJoin(F.broadcast(t))
        .join(j, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            "nx",
            "ny",
            "n",
            F.coalesce(F.col("nxy"), F.lit(0)).alias("nxy"),
            (F.col("nx") * F.col("ny") / F.col("n")).alias("e"),
        )
    )
    term = F.round(F.pow(F.col("nxy") - F.col("e"), 2) / F.col("e"), 9).cast(
        "decimal(30,12)"
    )
    return grid.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count("*").alias("n_cells"),
        ((F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1))
        .cast("long")
        .alias("dof"),
        F.round(F.sum(term).cast("double"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(term).cast("double")
                / (
                    F.max("n")
                    * F.least(
                        F.countDistinct("lang") - 1,
                        F.countDistinct("source") - 1,
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# The ExactSubstr span chain shared by the audit, apply and keep-one
# oracles: tokenize, winnowed k=5 anchors, context-order partners,
# extend-and-verify, and the island merge into maximal extents `merged`.
_EXACT_SUBSTR_MERGED = r"""
    WITH w AS MATERIALIZED (
      SELECT doc_id AS id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(lower(trim(text)), '\s+') END AS ws
      FROM documents),
    meta AS (SELECT id, len(ws) AS n FROM w),
    g AS (SELECT id, ws, unnest(range(0, len(ws) - 4)) AS p
          FROM w WHERE len(ws) >= 5),
    h AS (SELECT id, p,
                 substr(md5(list_aggregate(ws[p+1:p+5], 'string_agg', ' ')), 1, 16)
                   AS hh
          FROM g),
    a0 AS (SELECT id, p,
                  min(struct_pack(h := hh, p := p))
                    OVER (PARTITION BY id ORDER BY p
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS anc
           FROM h),
    anch AS MATERIALIZED (SELECT DISTINCT id, (anc).p AS ap FROM a0 WHERE p >= 3),
    occ AS MATERIALIZED (SELECT anch.id, ap,
                   list_aggregate(ws[ap+1:ap+5], 'string_agg', ' ') AS gr,
                   list_aggregate(ws[ap+1:ap+30], 'string_agg', ' ') AS ctx
            FROM anch JOIN w ON w.id = anch.id),
    nb AS (SELECT id, ap, gr,
                  lag(struct_pack(i := id, a := ap)) OVER wg AS p1,
                  lead(struct_pack(i := id, a := ap)) OVER wg AS p2
           FROM occ WINDOW wg AS (PARTITION BY gr ORDER BY ctx, id, ap)),
    g1 AS MATERIALIZED (SELECT gr, min(struct_pack(i := id, a := ap)) AS o1 FROM occ GROUP BY gr),
    g2 AS (SELECT occ.gr, min(struct_pack(i := occ.id, a := occ.ap)) AS o2
           FROM occ JOIN g1 ON g1.gr = occ.gr
           WHERE occ.id <> (g1.o1).i GROUP BY occ.gr),
    cand AS MATERIALIZED (
      SELECT DISTINCT ia, pa, ib, pb FROM (
        SELECT id AS ia, ap AS pa, (p1).i AS ib, (p1).a AS pb
        FROM nb WHERE p1 IS NOT NULL
        UNION ALL
        SELECT id, ap, (p2).i, (p2).a FROM nb WHERE p2 IS NOT NULL
        UNION ALL
        SELECT o.id, o.ap,
               CASE WHEN o.id <> (g1.o1).i THEN (g1.o1).i ELSE (g2.o2).i END,
               CASE WHEN o.id <> (g1.o1).i THEN (g1.o1).a ELSE (g2.o2).a END
        FROM occ o JOIN g1 USING (gr) LEFT JOIN g2 USING (gr))
      WHERE ib IS NOT NULL AND ib <> ia),
    ex AS MATERIALIZED (
      SELECT ia, pa,
             coalesce(list_min([i FOR i IN
                                range(1, least(A.n - (pa+5), B.n - (pb+5)) + 1)
                                IF A.ws[pa+5+i] <> B.ws[pb+5+i]]) - 1,
                      greatest(least(A.n - (pa+5), B.n - (pb+5)), 0)) AS re,
             coalesce(list_min([i FOR i IN range(1, least(pa, pb) + 1)
                                IF A.ws[pa-i+1] <> B.ws[pb-i+1]]) - 1,
                      least(pa, pb)) AS le
      FROM cand
      JOIN (SELECT id, ws, len(ws) AS n FROM w) A ON A.id = ia
      JOIN (SELECT id, ws, len(ws) AS n FROM w) B ON B.id = ib),
    spans AS MATERIALIZED (SELECT DISTINCT ia AS id, pa - le AS ss, pa + 4 + re AS se
              FROM ex WHERE 5 + le + re >= 15),
    isl AS (
      SELECT id, ss, se,
             sum(CASE WHEN ss > coalesce(pe, -2) + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY ss, se) AS grp
      FROM (SELECT id, ss, se,
                   max(se) OVER (PARTITION BY id ORDER BY ss, se
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS pe
            FROM spans)),
    merged AS (SELECT id, grp, min(ss) AS ss, max(se) AS se FROM isl GROUP BY 1, 2)"""

# Every token of `w` that no extent in `cover` spans, as `kept`: the scrub
# shared by the apply and keep-one oracles.
_EXACT_SUBSTR_KEPT = """
    FROM (
      SELECT w.id, w.ws,
             [w.ws[i+1] FOR i IN range(0, len(w.ws))
              IF list_count(list_filter(
                   coalesce(cover.cov, CAST([] AS STRUCT(ss INT, se INT)[])),
                   c -> i BETWEEN c.ss AND c.se)) = 0] AS kept
      FROM w LEFT JOIN cover ON cover.id = w.id) w
    """


@query(
    "cross_doc_substring_dedup",
    oracle=_EXACT_SUBSTR_MERGED
    + r""",
    per AS (SELECT id, count(*) AS nsp, sum(se - ss + 1) AS dup,
                   max(se - ss + 1) AS mx
            FROM merged GROUP BY 1)
    SELECT meta.id AS doc_id, CAST(meta.n AS BIGINT) AS n_tokens,
           CAST(coalesce(per.nsp, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(per.dup, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(per.mx, 0) AS BIGINT) AS max_span_tokens,
           CASE WHEN meta.n > 0
                THEN round(coalesce(per.dup, 0) * 1.0 / meta.n, 6) END AS dup_ratio
    FROM meta LEFT JOIN per ON per.id = meta.id
    """,
)
def cross_doc_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CROSS-DOCUMENT substring dedup at arbitrary token offset
    (``dedup.cross_doc_substring_spans`` — the Lee et al. 2022 ExactSubstr
    suffix-array pass re-expressed as winnowed k-gram anchors +
    extend-and-verify; VERDICT_r09 "Next round" #5): per document, the
    union of maximal token runs ≥ 15 that appear VERBATIM in another
    document, below the quantum of both the C4 chunk grid
    (``duplicate_chunk_stats``) and the stride-1 window digests
    (``duplicated_span_extents``) — extension finds the exact first
    mismatching token, so extents are token-precise on both ends and
    spans need not align to any window. No all-pairs stage anywhere:
    winnowing (k=5, window=4) guarantees any shared run ≥ 8 tokens
    selects a common anchor; each anchor occurrence pairs with ≤ 3
    partners (context-order lag/lead — the suffix-adjacency discipline —
    plus the gram's canonical cross-doc occurrence); the oracle replays
    anchor selection, partnering, extension, and the island merge
    verbatim in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.cross_doc_substring_spans(
        docs, "text", "doc_id", k=5, window=4, context=30, min_len=15
    )


@query(
    "cross_doc_substring_apply",
    oracle=_EXACT_SUBSTR_MERGED
    + r""",
    cover AS (
      SELECT id, list(struct_pack(ss := ss, se := se)) AS cov
      FROM merged GROUP BY 1)
    SELECT w.id AS doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS kept_tokens,
           coalesce(list_aggregate(kept, 'string_agg', ' '), '') AS cleaned_text
    """
    + _EXACT_SUBSTR_KEPT,
)
def cross_doc_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY leg of the ExactSubstr pass (``dedup.cross_doc_substring_apply``
    — the transform whose audit twin is ``cross_doc_substring_dedup``,
    mirroring the ``duplicated_span_extents`` / ``remove_duplicated_spans``
    pairing): every token covered by a cross-document duplicated extent
    ≥ 15 is dropped (declared DROP-ALL policy — order-free, the strict
    boilerplate scrub; keep-one would need a global copy ordering) and the
    surviving stream is re-joined as ``cleaned_text``. The hash therefore
    gates the exact surviving TOKEN STREAM of every document, not just
    span accounting. Same no-all-pairs pipeline as the audit; the apply
    adds one interval-list join (bounded by doc length) and one nested HOF
    filter pass."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.cross_doc_substring_apply(
        docs, "text", "doc_id", k=5, window=4, context=30, min_len=15
    )


@query(
    "cross_doc_substring_keep_one",
    oracle=_EXACT_SUBSTR_MERGED
    + r""",
    extc AS MATERIALIZED (
      SELECT m.id, m.ss, m.se,
             list_aggregate(w.ws[m.ss+1:m.se+1], 'string_agg', ' ') AS c
      FROM merged m JOIN w ON w.id = m.id),
    keep AS (SELECT c, min(struct_pack(i := id, s := ss)) AS kk FROM extc GROUP BY c),
    tagged AS MATERIALIZED (
      SELECT extc.id, extc.ss, extc.se,
             (extc.id = (keep.kk).i AND extc.ss = (keep.kk).s) AS kp
      FROM extc JOIN keep USING (c)),
    cover AS (
      SELECT id, list(struct_pack(ss := ss, se := se)) AS cov
      FROM tagged WHERE NOT kp GROUP BY 1),
    kc AS (SELECT id, count(*) AS kc FROM tagged WHERE kp GROUP BY 1)
    SELECT w.id AS doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS kept_tokens,
           CAST(coalesce(kc.kc, 0) AS BIGINT) AS kept_copies,
           coalesce(list_aggregate(kept, 'string_agg', ' '), '') AS cleaned_text
    """
    + _EXACT_SUBSTR_KEPT
    + """
    LEFT JOIN kc ON kc.id = w.id
    """,
)
def cross_doc_substring_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP-ONE leg of the ExactSubstr pass
    (``dedup.cross_doc_substring_keep_one`` — VERDICT_r10 "Next round" #3,
    completing the policy pair: ``cross_doc_substring_apply`` is the
    order-free drop-all scrub, this is the curator's deduplicate-don't-
    eliminate policy Lee et al. 2022 ship): per distinct maximal-extent
    CONTENT, the globally first copy — min (id, start), the module's
    canonical-representative convention — survives untouched; every other
    copy is scrubbed. The hash gates the exact surviving token stream AND
    the per-document count of surviving canonical extents, so both the
    global copy ordering and the scrub replay exactly. Grouping is by the
    extent content STRING (trusts-no-hash); the oracle replays anchor
    selection, partnering, extension, island merge, content grouping, and
    the keep-one filter verbatim in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.cross_doc_substring_keep_one(
        docs, "text", "doc_id", k=5, window=4, context=30, min_len=15
    )


# ---------------------------------------------------------------------------
# Streaming batch twins (VERDICT_r05 "Next round" #5)
# ---------------------------------------------------------------------------

# Streaming queries whose plan the registry invariant CANNOT probe in batch:
# each one's transformation is inseparable from a streaming-only API or from
# replay mechanics, with the reason recorded. Everything else must appear in
# stream_batch_twins(); tests/unit/test_plans.py asserts the partition is
# exhaustive, so a NEW stream query must land in one of the two or fail.
STREAM_REPLAY_ONLY: dict[str, str] = {
    "stream_dedup_watermarked": "dropDuplicatesWithinWatermark is rejected on batch DataFrames",
    "stream_cdc_last_state": "applyInPandasWithState is streaming-only",
    "stream_exactly_once_totals": "foreachBatch exactly-once sink protocol",
    "stream_pyds_jsonl_totals": "Python DataSource stream-writer epoch-commit protocol",
    "stream_cc_maintenance": "foreachBatch incremental graph-state maintenance protocol",
    "stream_minhash_index_maintenance": "foreachBatch incremental index-append protocol",
    "stream_minhash_cluster_maintenance": "foreachBatch incremental index+cluster-state maintenance protocol",
    "stream_keepone_maintenance": "foreachBatch incremental cluster+survivor-state maintenance protocol",
    "stream_python_source_totals": "custom Python streaming DataSource",
    "stream_rest_ingest_audit": "custom REST streaming source",
    "stream_late_data_accounting": "watermark drop/evict semantics ARE the query",
}


def stream_batch_twins() -> dict[str, QueryFn]:
    """Batch-plan twins for the streaming queries: the SAME hoisted build
    functions the stream queries execute, applied to the batch events table
    (``withWatermark`` is a no-op in batch), so the registry-wide plan
    invariant probes streaming transformation plans without starting a
    streaming query. Single-sourced — each twin calls the ``_build_*``
    function the replay harness calls, so the probed plan cannot drift from
    the shipped one."""
    from ..streaming import tumbling_agg
    from ..streaming.windows import _as_event_time

    def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _as_event_time(_t(spark, sf_dir, "events"), "ts").withWatermark(
            "ts", "1 hour"
        )

    def _cust(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )

    return {
        "stream_hourly": lambda s, d: tumbling_agg(
            _ev(s, d), "ts", "1 hour", ("event_type",), "value"
        ),
        "stream_sliding": lambda s, d: _build_stream_sliding(_ev(s, d)),
        "stream_dedup_counts": lambda s, d: _build_stream_dedup(_ev(s, d), _ev(s, d)),
        "stream_stream_join": lambda s, d: _build_pair_join(
            _ev(s, d), _ev(s, d), "inner", ("p_event_id", "c_event_id")
        ),
        "stream_stream_left_join": lambda s, d: _build_pair_join(
            _ev(s, d), _ev(s, d), "left_outer", ("p_event_id", "c_event_id")
        ),
        "stream_stream_full_join": lambda s, d: _build_pair_join(
            _ev(s, d), _ev(s, d), "full_outer", ("p_event_id", "c_event_id")
        ),
        "stream_stream_semi_join": lambda s, d: _build_pair_join(
            _ev(s, d), _ev(s, d), "left_semi", ("p_event_id",)
        ),
        "stream_static_enrich": lambda s, d: _build_static_enrich(
            _ev(s, d), _cust(s, d)
        ),
        "stream_hourly_users": lambda s, d: _build_hourly_users(_ev(s, d)),
        "stream_psi_drift": lambda s, d: _build_stream_psi_current(_ev(s, d)),
    }
