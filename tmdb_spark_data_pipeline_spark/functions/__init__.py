"""Expression helpers shared by the operator library.

These pin the semantics SURVEY.md §2.5/§7 calls out as implicit (and
nondeterministic) in the reference:

- guarded division (reference ``analytics/kpis.py:58-61`` uses a bare ``when``
  with no ``otherwise``; here ``safe_div`` is NULL on null/zero denominators
  under any ANSI setting),
- explicit nulls ordering + total-order tie-breakers for every sort,
- fixed rounding for oracle comparability.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def gateway_memo(build):
    """Memoize a builder of Py4J-backed Columns per JVM gateway.

    Building wide expression lists (128 MinHash aggregates, 63 SimHash bit
    sums, 64 mean aggregates) costs three Py4J commands per ``F.expr``, and
    the query families rebuild them per query (the stream protocols once per
    epoch). Unmemoized, the 128 MinHash aggregates take 384 commands and
    about 20 ms on 4 vCPUs; a memo hit sends none. (The "hundreds of ms"
    once measured here was for the same aggregates as ``F.col``/``F.lit``
    chains: 7,800-9,800 commands and 260-300 ms with pyspark's call-site
    capture on, 2,688 and 130-140 ms with it off, as ``session`` sets it.)
    Columns are immutable unresolved expression trees, safe to reuse across
    DataFrames and sessions of one gateway — but they are ``JavaObject``
    handles into that gateway's JVM, so the cache is dropped whenever
    ``SparkContext._gateway`` changes (a restarted gateway rebuilds instead
    of returning dead handles). At most 16 keys are kept per builder (LRU).
    """
    cached = functools.lru_cache(maxsize=16)(build)
    owner = [SparkContext._gateway]

    @functools.wraps(build)
    def memo(*args):
        if SparkContext._gateway is not owner[0]:
            cached.cache_clear()
            owner[0] = SparkContext._gateway
        return cached(*args)

    return memo


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def safe_div(num: ColumnOrName, den: ColumnOrName) -> Column:
    """NULL-on-zero division, independent of ``spark.sql.ansi.enabled``."""
    return F.try_divide(_col(num), _col(den))


def round2(c: ColumnOrName) -> Column:
    """The reference rounds every Gold aggregate to 2 decimals
    (``analytics/kpis.py:134-138``)."""
    return F.round(_col(c), 2)


def money_sum(c: ColumnOrName, scale: int = 4) -> Column:
    """Order-independent sum for double money columns.

    Double addition is not associative, so a parallel Spark sum and a DuckDB
    sum can differ in the last ulp and flip a rounded digit. Casting to
    decimal before summing makes the aggregate exact and deterministic —
    which is also the right call at 100 TB, where partial aggregation order
    is completely uncontrolled.
    """
    return F.sum(_col(c).cast(f"decimal(30,{scale})"))


def money_avg(c: ColumnOrName, scale: int = 4) -> Column:
    """Deterministic mean: exact decimal sum divided by count."""
    col = _col(c)
    return F.try_divide(
        F.sum(col.cast(f"decimal(30,{scale})")),
        F.count(col),
    )


def asc_nulls_last_with_tiebreak(metric: ColumnOrName, *tiebreak: ColumnOrName) -> list[Column]:
    return [_col(metric).asc_nulls_last(), *[_col(t).asc() for t in tiebreak]]


def desc_nulls_last_with_tiebreak(metric: ColumnOrName, *tiebreak: ColumnOrName) -> list[Column]:
    return [_col(metric).desc_nulls_last(), *[_col(t).asc() for t in tiebreak]]


def nullif_le_zero(c: ColumnOrName) -> Column:
    """Threshold nulling (reference ``clean_transform.py:124-129``):
    non-positive measures are sentinel garbage → NULL."""
    col = _col(c)
    return F.when(col > 0, col).otherwise(F.lit(None))


def null_sentinels(c: ColumnOrName, sentinels: tuple[str, ...] = ("No Data",)) -> Column:
    """Sentinel-string → NULL (reference ``clean_transform.py:146-150``)."""
    col = _col(c)
    out = col
    for s in sentinels:
        out = F.when(out == s, F.lit(None)).otherwise(out)
    return out
