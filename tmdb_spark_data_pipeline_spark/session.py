"""SparkSession factory for the engine.

The reference (``/root/reference``) hardcodes ``spark.sql.shuffle.partitions=4``
and pins Spark 3.5.1 (``docker/Dockerfile:1``, ``transform/clean_transform.py:180``).
We instead rely on AQE for shuffle sizing and pin the semantics that matter for
correctness parity with a DuckDB oracle:

- ``spark.sql.ansi.enabled=false``: Spark 3.5 default (the reference's pinned
  version). With ANSI on (Spark 4.x default), ``x / 0`` throws
  ``DIVIDE_BY_ZERO``; with it off, ``x / 0`` is NULL — which matches DuckDB
  and the reference's observed behavior.
- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive; pinning
  the session TZ makes window/time-bucket results comparable.
- AQE on (coalesce partitions + skew join): at 100 TB the right shuffle
  partition count is data-dependent; hardcoding it (as the reference does) is
  wrong at both ends of the scale.
- Arrow on: the only sanctioned pandas bridge is post-aggregation
  ``toPandas()`` (reference ``visualization/visualize.py:56-57``), and Arrow
  makes it columnar instead of row-pickled.
- A codegen class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps every class Janino compiled from
  generated Java (whole-stage stages, projections, orderings) in ONE
  JVM-wide LRU cache keyed by the generated source. The cache is built
  once, from ``spark.sql.codegen.cache.maxEntries``, the first time any
  session in the JVM generates code, so only the first session's config
  (this factory, or the ``extra_conf``/``SPARK_GRAFT_EXTRA_CONF`` that
  override it) can size it. Spark's default of 100 entries, split into 4
  LRU segments, is far below one workload pass, so a warm query recompiled
  most of its classes and ran them interpreted until the JIT caught up
  again. The cached classes live in metaspace; the JIT-compiled machine
  code of their hot methods lives in the code cache that
  ``-XX:ReservedCodeCacheSize=1g`` reserves below. A class evicted here is
  unloaded at a later GC, and its machine code is flushed with it.
"""

from __future__ import annotations

import logging
import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "tmdb-spark-data-pipeline-spark"

#: ``spark.sql.codegen.cache.maxEntries``, the entries of the JVM-wide
#: compiled-class cache (see the module docstring). An ``olap-mix`` pass
#: compiles 109 distinct classes; a pass over all 304 declared queries
#: 5,047 (sf0.001), and each later pass about 300 more whose whole-stage
#: stage id moved between runs. 8192 holds the whole surface, with headroom
#: for one of the 4 LRU segments filling faster than the others.
CODEGEN_CACHE_ENTRIES = 8192

_log = logging.getLogger(__name__)


def _env_conf_pairs(raw: str) -> list[tuple[str, str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` (``k=v;k=v``). An entry without
    ``=`` or with an empty key raises rather than silently setting a key
    to ``""``."""
    pairs = []
    for entry in filter(None, (e.strip() for e in raw.split(";"))):
        k, eq, v = entry.partition("=")
        if not eq or not k.strip():
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF: malformed entry {entry!r}, want key=value"
            )
        pairs.append((k.strip(), v.strip()))
    return pairs


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it unset and spark-submit provides it. The
    JVM options and the codegen cache size take effect only in the call
    that starts the JVM (see the module docstring).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: ~cores. On a cluster AQE coalesces from this initial
        # value, so a generous initial count is safe.
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Local mode runs driver + every executor thread in ONE JVM; Spark's
        # 1g default heap starves 32 cores (GCLocker alloc stalls under any
        # persisted table). Applies only when this factory launches the JVM —
        # a cluster deployment sizes executors via spark-submit instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Whole-stage codegen emits several JIT-compiled classes PER QUERY
        # PLAN; a session that executes hundreds of distinct plans (the bench
        # sweep, a notebook, a long-lived service) fills the JVM's default
        # 240 MB code cache, after which the JIT stops compiling new hot
        # loops and heavy queries run partially interpreted (measured: the
        # same query 2-3× slower late in a 161-query sweep than isolated,
        # at 0% CPU steal). Spark's own tuning guide recommends raising it.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
            ),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Scale-dependent overrides stay parameterised (optimization-round rule:
    # no constant tuned to one machine): SPARK_GRAFT_EXTRA_CONF is a
    # semicolon-separated k=v list applied to every engine session — used
    # for cluster-posture settings and isolated config A/Bs without
    # touching the bench harness.
    applied = _env_conf_pairs(os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""))
    applied += list((extra_conf or {}).items())
    for k, v in applied:
        builder = builder.config(k, v)
    if applied:
        _log.info("get_spark(%s) config overrides: %s", app_name, applied)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def free_local_checkpoint(df) -> None:
    """Deterministically drop the block-manager blocks backing a
    ``localCheckpoint``-ed DataFrame.

    ``localCheckpoint`` persists the materialized RDD in the block manager
    and Spark only reclaims it when the JVM object is garbage-collected
    (ContextCleaner) — nondeterministic through the Py4J reference chain, so
    a ``foreachBatch`` epoch loop that checkpoints per-epoch state
    accumulates one superseded copy per epoch for the life of the stream
    (ADVICE r11). This frees the blocks the moment the caller knows the
    checkpoint is dead. ONLY call it on a checkpoint that will never be
    read again: a locally checkpointed RDD has no lineage to recompute
    from, so any later read of ``df`` fails.

    Best-effort by design: the analyzed plan of a checkpointed DataFrame is
    a ``LogicalRDD`` whose ``rdd()`` accessor is the persisted RDD; a pure
    column PROJECTION of a checkpointed frame (``connected_components``
    returns one) is a ``Project``/``SubqueryAlias`` chain over the
    ``LogicalRDD`` — descend through those single-child wrappers so callers
    holding the projection can still free the blocks. If the plan is
    anything else (caller passed a non-checkpointed frame) this is a no-op
    and the ContextCleaner path still applies.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        for _ in range(8):  # bounded descent through projection wrappers
            name = plan.getClass().getSimpleName()
            if name == "LogicalRDD":
                plan.rdd().unpersist(False)
                return
            if name in ("Project", "SubqueryAlias") and plan.children().size() == 1:
                plan = plan.children().head()
            else:
                return
    except Exception:
        pass  # fall back to GC-driven ContextCleaner reclamation


class Rounds:
    """The checkpoints of one iterative loop (connected components, core
    and truss peeling, PageRank, BFS), freed as soon as nothing reads them.

    ``cut(df, *consumed)`` truncates the loop's lineage with an eager
    ``localCheckpoint`` — iterative plans otherwise grow without bound (a
    cluster job would use reliable ``checkpoint``). Once the new checkpoint
    is materialized, the cut it supersedes and every ``consumed`` frame
    (side checkpoints the new cut read for the last time; the superseded
    cut itself may be among them) are dead blocks, freed at once with
    ``free_local_checkpoint`` instead of waiting for Py4J + ContextCleaner
    GC, which a per-epoch caller (the streaming maintenance family) cannot
    rely on.

    Every ``launder_every``-th cut also ``persist()``s the new checkpoint.
    ``localCheckpoint`` truncates LINEAGE but INHERITS the source plan's
    size ESTIMATE, and a loop that self-joins or anti-joins its evolving
    table multiplies that estimate every round: in connected components
    the digit count of Catalyst's BigInt estimate doubles per round, and
    on a slow-converging graph (long chains need ~20+ rounds) the size
    arithmetic alone grew to ~50 s/round and OOMed a default-sized driver
    (measured on the (u+v)%3 co-purchase subgraph). ``InMemoryRelation``
    re-derives stats from the actual materialized bytes, so the persist
    resets the estimate; loops that converge in a few rounds never pay the
    second materialization. A laundering cut stays alive until the next
    laundering cut supersedes it: its cache is the stats pin, and freeing
    the RDD under a live cache entry risks a recompute of a
    lineage-truncated plan.

    ``hold(df)`` checkpoints an input every round reads (an edge list); it
    is freed when the block exits. Leaving the block, normally or by a
    raise, unpersists the live laundering cache (and frees its checkpoint
    if a later cut superseded it) and frees the held inputs; the newest
    cut stays backed by its own checkpoint, so a returned frame over it
    stays readable, and a caller that keeps it across epochs frees it when
    superseded.
    """

    def __init__(self, launder_every: int | None = None):
        self._every = launder_every
        self._cuts = 0
        self._last = None  # newest cut
        self._pin = None  # live laundering cut
        self._held = []

    def __enter__(self) -> Rounds:
        return self

    def __exit__(self, *exc) -> None:
        if self._pin is not None:
            self._pin.unpersist()
            if self._pin is not self._last:
                free_local_checkpoint(self._pin)
        self.drop(*self._held)

    def hold(self, df):
        df = df.localCheckpoint()
        self._held.append(df)
        return df

    def cut(self, df, *consumed):
        new = df.localCheckpoint()
        self._cuts += 1
        dead = {id(d): d for d in (*consumed, self._last) if d is not None}
        if self._every and self._cuts % self._every == 0:
            if self._pin is not None:
                self._pin.unpersist()
                dead[id(self._pin)] = self._pin
            self._pin = new.persist()
        self.drop(*(d for d in dead.values() if d is not self._pin))
        self._last = new
        return new

    def drop(self, *dfs) -> None:
        """Free checkpoints nothing will read again (a probe that found
        nothing, say)."""
        for df in dfs:
            free_local_checkpoint(df)


@contextmanager
def cache_scope(spark: SparkSession) -> Iterator[SparkSession]:
    """Bound the lifetime of operator-internal ``persist()`` calls.

    Several operators (LSH banding, SimHash buckets, candidate pair tables)
    persist small intermediates because Spark does not reuse exchanges across
    self-join sides. Those cache entries live in the JVM CacheManager, which
    is keyed by logical plan and NOT released when the Python ``DataFrame``
    is garbage-collected — a long-lived session composing these operators
    accumulates cache without bound (measured: a 127-query sweep inflated
    later heavy queries 2-3×). Wrap each unit of work::

        with cache_scope(spark):
            pairs = minhash_lsh_pairs(df, "text", "doc_id")
            pairs.write.parquet(out)

    On exit every cached table in the session is dropped. The scope is
    session-global (Spark has no finer-grained cache namespace), so don't
    nest scopes around work whose caches must outlive the inner scope.
    ``bench.py`` applies the same policy by clearing the cache between
    timed queries.
    """
    try:
        yield spark
    finally:
        spark.catalog.clearCache()
