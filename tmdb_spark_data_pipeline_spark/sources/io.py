"""Sources and sinks (SURVEY.md §2.1, S5-S14).

The reference's physical layer is "a layer is a directory of Parquet/JSON
files" with manual partition-path construction (``analytics/kpis.py:198``,
``transform/clean_transform.py:35-57``) and ``.done``-marker incrementality
(``clean_transform.py:27-64``). Here:

- reads always take an explicit schema when the format can't carry one (JSON),
- a local Parquet file's schema is inferred once per process for each file
  version and set of session inference confs (``parquet_schema``): inference
  runs a Spark job over the footer, so later reads of the unchanged file, in
  any session, pass the remembered schema instead,
- partition pruning is expressed as a filter on the partition column over the
  partitioned root (Catalyst's ``PruneFileSourcePartitions`` does the rest),
- the marker protocol is kept (simple, idempotent, object-store friendly) and
  a Structured Streaming ``Trigger.AvailableNow`` twin lives in
  ``streaming/``.
"""

from __future__ import annotations

import functools
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The driver's synthetic tables (/root/repo/TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S8). Columnar, predicate/column pushdown for free."""
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: StructType, multiline: bool = True) -> DataFrame:
    """JSON scan with an explicit schema (S6) — never infer in production.

    Reference: ``PROJECT_EXPLAINED.md:464`` reads multiline JSON; we always
    pass the declared schema so a malformed file can't silently change types.
    """
    return spark.read.schema(schema).option("multiLine", multiline).json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "FAILFAST",
) -> DataFrame:
    """CSV scan with an explicit schema — never infer (inference reads the
    data twice and lets a malformed file silently change types; same policy
    as ``read_json``). ``FAILFAST`` by default: a corrupt row aborts the
    read instead of nulling fields mid-pipeline (pass ``PERMISSIVE`` +
    a ``_corrupt_record`` column in the schema to quarantine instead)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", mode)
        .csv(path)
    )


def write_csv(
    df: DataFrame, path: str, *, mode: str = "append", header: bool = True
) -> None:
    """CSV sink (interchange exports — lossy for nested/binary types by
    nature; the engine's durable format stays parquet)."""
    df.write.mode(mode).option("header", header).csv(path)


def read_xml(
    spark: SparkSession, path: str, schema: StructType, *, row_tag: str
) -> DataFrame:
    """XML source (native in Spark 4 — no external package): explicit schema
    + FAILFAST, same never-infer policy as every other text source here."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "FAILFAST")
        .schema(schema)
        .load(path)
    )


def write_xml(
    df: DataFrame, path: str, *, row_tag: str, mode: str = "append"
) -> None:
    """XML sink (interchange exports for XML-consuming systems; doubles are
    written in round-trippable text form, same guarantee as the CSV sink)."""
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


#: Session confs that change the schema Spark infers from a Parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class _Footer(NamedTuple):
    schema: StructType  # what ``spark.read.parquet`` infers
    ns_columns: tuple[str, ...]  # ``timestamp[ns]`` columns, per pyarrow


@functools.lru_cache(maxsize=64)
def _footer_slot(key: tuple) -> list[_Footer]:
    """An empty slot per (file version, inference confs) that ``_footer``
    fills: filling needs the session, which is not part of the key. The
    values are plain Python, so they outlive a JVM gateway restart."""
    return []


def _footer(spark: SparkSession, path: str) -> _Footer:
    """The memoized footer of the local Parquet file ``path``: keyed by its
    absolute path, mtime and size, and the session's inference confs."""
    st = os.stat(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    slot = _footer_slot((os.path.abspath(path), st.st_mtime_ns, st.st_size, confs))
    if not slot:
        import pyarrow.parquet as pq

        ns = tuple(f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]")
        slot.append(_Footer(spark.read.parquet(path).schema, ns))
    return slot[0]


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, without its inference
    job after the first call for an unchanged local file. Directories and
    non-local paths are inferred on every call.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` on the session first, as
    ``load_table`` does: Spark rejects a ``timestamp[ns]`` column otherwise
    (PARQUET_TYPE_ILLEGAL), and with it the column reads, and streams, as
    raw nanosecond longs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(path):
        return _footer(spark, path).schema
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table from an sf directory.

    Nanosecond-timestamp parquet columns are illegal for Spark's vectorized
    reader (PARQUET_TYPE_ILLEGAL); we read them as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild proper timestamps
    with µs truncation — the same truncation DuckDB applies, so oracle
    comparisons see identical instants. The footer tells us which columns
    need it; a local file's footer is read once (see ``parquet_schema``) and its
    inferred schema passed to later reads.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader, ns_columns = spark.read, ()
    if os.path.isfile(path):  # directory inputs / non-local paths: no ns-timestamp fixup
        footer = _footer(spark, path)
        reader, ns_columns = reader.schema(footer.schema), footer.ns_columns
    df = reader.parquet(path)
    for c in ns_columns:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES) -> None:
    """Register every table as a temp view so the surface is SQL-queryable."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
) -> None:
    """Parquet sink (S7/S9/S10). ``partition_by`` mirrors the reference's
    ``partitionBy("ingestion_date")`` silver layout (``clean_transform.py:206-209``).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int,
    *,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (catalog-registered): co-locates rows by key at
    WRITE time so later equi-joins/aggregations on the bucket key need no
    exchange — the 100 TB lever SCALE.md leans on for fact⋈fact joins.
    (Bucketing requires ``saveAsTable``; path-only parquet can't carry bucket
    metadata.)

    ``mode="overwrite"`` is WRITE-FIRST (VERDICT_r05 "What's wrong" #2): the
    new data lands in a staging table before anything existing is touched, so
    a failed write leaves the previous table fully intact — native
    ``saveAsTable(Overwrite)`` (and this function's old pre-delete form) drop
    the target before writing and lose it on failure. Only after the staging
    write commits is the old table dropped and staging renamed into place
    (``ALTER TABLE RENAME`` moves the managed dir — bucket metadata travels
    with the catalog entry).

    Stale managed-table locations (in-memory catalog: a previous session's
    table dir survives in the warehouse while its registration doesn't, so
    ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS) are cleared at the
    *catalog-resolved* location — the current database's ``locationUri``,
    not a hardcoded ``warehouse/<name>`` guess — and only for paths the
    catalog proves unregistered (staging, or the just-dropped target)."""

    def _write(target: str, write_mode: str) -> None:
        w = df.write.mode(write_mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(target)

    if mode != "overwrite":
        _write(name, mode)
        return

    import shutil

    spark = df.sparkSession

    def _managed_location(qualified: str) -> str:
        db, _, tbl = qualified.rpartition(".")
        db = db or spark.catalog.currentDatabase()
        base = spark.catalog.getDatabase(db).locationUri
        return os.path.join(base.removeprefix("file:"), tbl.lower())

    staging = f"{name}__overwrite_staging"
    # Crash-recovery first (ADVICE r6): a previous call that died in the
    # window between its DROP TABLE of the target and the staging→target
    # rename leaves the newest data ONLY in the committed staging table.
    # If the target is missing but a staging table is registered, finish
    # that interrupted rename — clearing staging as junk here would
    # discard the only copy. The recovered table then plays the normal
    # "previous table" role for this call's write-first overwrite.
    if spark.catalog.tableExists(staging) and not spark.catalog.tableExists(name):
        shutil.rmtree(_managed_location(name), ignore_errors=True)
        spark.sql(f"ALTER TABLE {staging} RENAME TO {name}")
    # Staging junk is now safe to clear: the name is ours, and any
    # leftover (catalog entry or stale dir) is a previous failed attempt.
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    shutil.rmtree(_managed_location(staging), ignore_errors=True)
    _write(staging, "errorifexists")  # the expensive part — old table untouched if this fails
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # After the drop the target name is provably unregistered; a dir still
    # at its resolved location is a stale orphan blocking the rename.
    shutil.rmtree(_managed_location(name), ignore_errors=True)
    spark.sql(f"ALTER TABLE {staging} RENAME TO {name}")


def write_json(df: DataFrame, path: str, mode: str = "append") -> None:
    """JSON sink (S5) — the raw-archive role of ``fetch_movies.py:285-286``."""
    df.write.mode(mode).json(path)


def to_pandas(df: DataFrame, cols: tuple[str, ...] | None = None):
    """S13 pandas bridge (reference ``visualization/visualize.py:56-57``):
    project, then ``toPandas()`` — Arrow-columnar (enabled in the session
    factory). Presentation edge ONLY: callers aggregate/limit first; this is
    the single sanctioned driver-side collect in the engine."""
    if cols:
        df = df.select(*cols)
    return df.toPandas()


def stamp_audit_columns(df: DataFrame, run_id: str, ingestion_date: str | None = None) -> DataFrame:
    """Audit-column stamping (S14; reference ``fetch_movies.py:303-305``)."""
    out = df.withColumn("ingestion_timestamp", F.current_timestamp()).withColumn("run_id", F.lit(run_id))
    if ingestion_date is not None:
        out = out.withColumn("ingestion_date", F.lit(ingestion_date))
    return out


# --- incremental .done-marker protocol (S11/S12) ---------------------------
# Reference: clean_transform.py:27-64 / kpis.py:26-51. Kept because it is
# idempotent, object-store safe (one tiny touch file per unit), and trivially
# auditable. The streaming twin (Trigger.AvailableNow + checkpoint) is in
# streaming/incremental.py.


def _done_dir(base: str) -> str:
    return os.path.join(base, ".done")


def find_unprocessed(base: str, units: list[str]) -> list[str]:
    """Return the subset of ``units`` (opaque ids, e.g. partition dates) that
    have no done-marker under ``base/.done/``."""
    done = set()
    d = _done_dir(base)
    if os.path.isdir(d):
        done = set(os.listdir(d))
    return [u for u in units if u not in done]


def mark_done(base: str, unit: str) -> None:
    d = _done_dir(base)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, unit), "w"):
        pass
