"""The reference's end-to-end movie pipeline, composed from engine operators.

A user of `Zaina-M/tmdb-spark-data-pipeline` runs: Bronze (nested TMDB JSON)
→ Silver (flat, typed, deduped) → Gold (KPI rankings, searches, group-bys).
This module reproduces that surface 1:1 on the operator library:

- ``curate``      ≙ ``transform/clean_transform.py:65-173`` (transform_bronze)
- ``prepare_kpis``≙ ``analytics/kpis.py:54-62``
- ``movie_kpis``  ≙ ``analytics/kpis.py:79-96`` (the 10 ranking KPIs)
- ``search_*``    ≙ ``analytics/kpis.py:99-122``
- ``franchise_vs_standalone`` / ``top_franchises`` / ``top_directors``
                  ≙ ``analytics/kpis.py:125-180``

All thresholds/KPI specs come from an injectable ``MoviePipelineConfig``
(``pipelines/config.py`` ≙ reference ``src/utils/config.py:23-125``), and the
Bronze/Silver boundaries are enforced against the declared contracts in
``schemas.py`` (≙ reference ``src/schemas.py:192-199``, upgraded to raise).

Documented deviations (SURVEY.md §7): arrays stay ``array<string>`` in Silver
(pipe-joining is presentation-only via ``flatten.to_pipe_string``); the
collection column is ``collection_name``; rankings pin ``nulls_last`` + an
``id`` tie-breaker; division is ``try_divide``; dedup keeps the deterministic
min-id row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import schemas
from ..operators import cleaning, flatten, metrics, rank, search
from .config import (
    DEFAULT_CONFIG,
    MoviePipelineConfig,
)

#: Silver projection order — the reference's ``final_columns``
#: (``clean_transform.py:161-171``) with the documented naming deviation.
SILVER_COLUMNS: tuple[str, ...] = tuple(f.name for f in schemas.SILVER_SCHEMA.fields)


def curate(
    bronze: DataFrame,
    *,
    config: MoviePipelineConfig = DEFAULT_CONFIG,
    min_non_null: int | None = None,
) -> DataFrame:
    """Bronze → Silver (``transform_bronze``, ``clean_transform.py:65-173``).

    Order of operations mirrors the reference: status filter → drops →
    flatten nested structures (collection/genres/companies/countries/
    languages/credits) → casts → null normalization → dedup/dropna/
    completeness → canonical projection. Output keeps arrays as arrays
    (deviation, SURVEY §1.4).

    With ``config.validate_schemas`` (default), the input is gated against
    ``schemas.BRONZE_SCHEMA`` (extra columns tolerated — the API may grow)
    and the output against ``schemas.SILVER_SCHEMA`` (exact), failing fast
    with a field-level diff (≙ ``fetch_movies.py:294-298``).
    """
    if config.validate_schemas:
        schemas.validate(bronze, schemas.BRONZE_SCHEMA, layer="bronze", allow_extra=True)
    if min_non_null is None:
        min_non_null = config.min_non_null

    df = cleaning.filter_equals(bronze, "status", "Released")
    df = cleaning.drop_columns(df, config.drop_columns)

    cols = ["*"]
    if "belongs_to_collection" in df.columns:
        cols.append(F.col("belongs_to_collection.name").alias("collection_name"))
    if "genres" in df.columns:
        cols.append(flatten.names_of("genres").alias("genre_names"))
    # remaining nested arrays (clean_transform.py:83-90): companies keep the
    # name, countries/languages keep their ISO codes
    nested_arrays = {
        "production_companies": "name",
        "production_countries": "iso_3166_1",
        "spoken_languages": "iso_639_1",
    }
    for c, fld in nested_arrays.items():
        if c in df.columns:
            cols.append(flatten.names_of(c, fld).alias(f"__flat_{c}"))
    if "credits" in df.columns:
        directors = flatten.names_of(flatten.where_field_equals("credits.crew", "job", "Director"))
        cols += [
            flatten.names_of("credits.cast").alias("cast_names"),
            flatten.array_size("credits.cast").alias("cast_size"),
            flatten.first_element(directors).alias("director"),
            flatten.array_size("credits.crew").alias("crew_size"),
        ]
    df = df.select(*cols)
    df = cleaning.drop_columns(
        df, ("belongs_to_collection", "genres", "credits", *nested_arrays)
    )
    df = df.withColumnsRenamed(
        {
            "genre_names": "genres",
            "cast_names": "cast",
            **{f"__flat_{c}": c for c in nested_arrays if f"__flat_{c}" in df.columns},
        }
    )

    df = cleaning.cast_columns(df, config.numeric_casts)
    if "release_date" in df.columns:
        df = df.withColumn("release_date", F.to_date("release_date"))

    df = cleaning.null_non_positive(df, ("budget", "revenue", "runtime"))
    if {"vote_average", "vote_count"} <= set(df.columns):
        df = cleaning.null_when_unsupported(
            df, "vote_average", "vote_count", config.min_votes_for_rating
        )
    df = cleaning.replace_sentinels(df, ("overview", "tagline"), config.sentinels)

    for src, dst in (("budget", "budget_musd"), ("revenue", "revenue_musd")):
        if src in df.columns:
            df = df.withColumn(dst, metrics.to_millions(src)).drop(src)

    # deterministic winner among duplicate ids (reference dropDuplicates
    # keeps an arbitrary row, SURVEY §7): first by title then vote_count
    tb = tuple(F.col(c) for c in ("title", "vote_count") if c in df.columns)
    df = cleaning.dedup_by_key(df, ("id",), tiebreak=tb)
    df = cleaning.dropna_required(df, ("id", "title"))
    df = cleaning.completeness_filter(df, min_non_null)

    # canonical projection order (clean_transform.py:161-171)
    df = cleaning.project(df, SILVER_COLUMNS)
    if config.validate_schemas:
        schemas.validate(df, schemas.SILVER_SCHEMA, layer="silver")
    return df


def prepare_kpis(silver: DataFrame, *, config: MoviePipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """profit/ROI derivation (``kpis.py:54-62``): ROI only where budget ≥ 10
    (``config.yaml:63``), NULL otherwise — via try_divide, ANSI-safe."""
    df = metrics.with_profit(silver, "revenue_musd", "budget_musd", alias="profit_musd")
    return metrics.with_ratio(
        df, "revenue_musd", "budget_musd", alias="roi", min_den=config.min_budget_for_roi
    )


def rank_movies(
    df: DataFrame,
    metric: str,
    *,
    order: str = "desc",
    top_n: int | None = None,
    filter_expr: Column | None = None,
    config: MoviePipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """``rank_movies`` (``kpis.py:65-76``) with deterministic ordering."""
    return rank.top_k(
        prepare_kpis(df, config=config),
        metric,
        order=order,
        k=top_n if top_n is not None else config.default_top_n,
        tiebreak=("id",),
        filter_expr=filter_expr,
    )


def movie_kpis(
    silver: DataFrame,
    top_n: int | None = None,
    *,
    config: MoviePipelineConfig = DEFAULT_CONFIG,
) -> dict[str, DataFrame]:
    """The KPI family (``kpis.py:79-96``), driven by ``config.kpi_specs``."""
    out: dict[str, DataFrame] = {}
    for name, spec in config.kpi_specs.items():
        fe = None
        if "min_budget" in spec:
            fe = F.col("budget_musd") >= spec["min_budget"]
        if "min_votes" in spec:
            fe = F.col("vote_count") >= spec["min_votes"]
        out[name] = rank_movies(
            silver, spec["metric"], order=spec["order"], top_n=top_n, filter_expr=fe, config=config
        )
    return out


def search_genre_cast(
    silver: DataFrame, *, genres: tuple[str, ...], cast: tuple[str, ...], min_votes: int = 10
) -> DataFrame:
    """``run_search_queries`` #1 (``kpis.py:102-110``) with exact array
    membership instead of the substring false-positive (F12)."""
    preds = [search.array_has("genres", g) for g in genres]
    preds += [search.array_has("cast", c) for c in cast]
    preds.append(search.threshold("vote_count", ">=", min_votes))
    return search.search(
        silver, search.all_of(*preds), order_by=[F.col("vote_average").desc_nulls_last(), F.col("id").asc()]
    )


def search_cast_director(silver: DataFrame, *, actor: str, director: str) -> DataFrame:
    """``run_search_queries`` #2 (``kpis.py:113-119``)."""
    pred = search.all_of(search.array_has("cast", actor), F.col("director") == director)
    return search.search(silver, pred, order_by=[F.col("runtime").asc_nulls_last(), F.col("id").asc()])


def franchise_vs_standalone(
    silver: DataFrame, *, config: MoviePipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """``kpis.py:125-142``: when/otherwise grouping key + multi-aggregate
    (exact median instead of percentile_approx, SURVEY §7)."""
    df = prepare_kpis(silver, config=config)
    flag = F.when(F.col("collection_name").isNotNull(), "Franchise").otherwise("Standalone")
    return (
        df.withColumn("kind", flag)
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_movies"),
            F.round(F.avg("revenue_musd"), 2).alias("mean_revenue"),
            F.round(F.median("roi"), 2).alias("median_roi"),
            F.round(F.avg("budget_musd"), 2).alias("mean_budget"),
            F.round(F.avg("popularity"), 2).alias("mean_popularity"),
            F.round(F.avg("vote_average"), 2).alias("mean_rating"),
        )
    )


def top_franchises(
    silver: DataFrame,
    top_n: int | None = None,
    *,
    config: MoviePipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """``kpis.py:145-163``."""
    return rank.top_k(
        silver.filter(F.col("collection_name").isNotNull())
        .groupBy("collection_name")
        .agg(
            F.count("*").alias("n_movies"),
            F.round(F.sum("budget_musd"), 2).alias("total_budget"),
            F.round(F.avg("budget_musd"), 2).alias("mean_budget"),
            F.round(F.sum("revenue_musd"), 2).alias("total_revenue"),
            F.round(F.avg("revenue_musd"), 2).alias("mean_revenue"),
            F.round(F.avg("vote_average"), 2).alias("mean_rating"),
        ),
        "total_revenue",
        order="desc",
        k=top_n if top_n is not None else config.default_top_n,
        tiebreak=("collection_name",),
    )


def top_directors(
    silver: DataFrame,
    top_n: int | None = None,
    *,
    config: MoviePipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """``kpis.py:166-180``. Unlike the reference, the null-director group is
    excluded (documented deviation — a 'no director' aggregate row is noise)."""
    return rank.top_k(
        silver.filter(F.col("director").isNotNull())
        .groupBy("director")
        .agg(
            F.count("*").alias("n_movies"),
            F.round(F.sum("revenue_musd"), 2).alias("total_revenue"),
            F.round(F.avg("vote_average"), 2).alias("mean_rating"),
        ),
        "total_revenue",
        order="desc",
        k=top_n if top_n is not None else config.default_top_n,
        tiebreak=("director",),
    )
