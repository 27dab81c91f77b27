"""Derived-metric projection (SURVEY.md §2.8 F10-F11).

The reference's profit/ROI pattern (``analytics/kpis.py:54-62``): guarded
arithmetic over money columns. Kept ANSI-safe via ``try_divide`` — the
reference relies on Spark 3.5's non-ANSI NULL-on-zero division plus a
``when(budget >= 10)`` guard; under Spark 4 ANSI defaults the bare ``/``
would throw (verified in SURVEY.md F10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ColumnOrName, _col, safe_div


def to_millions(c: ColumnOrName) -> Column:
    """``budget/1e6 → budget_musd`` (``clean_transform.py:132-137``)."""
    return _col(c) / F.lit(1_000_000.0)


def with_profit(df: DataFrame, revenue: str, cost: str, alias: str = "profit") -> DataFrame:
    """``profit = revenue - cost`` (``kpis.py:57``)."""
    return df.withColumn(alias, F.col(revenue) - F.col(cost))


def with_ratio(
    df: DataFrame,
    num: str,
    den: str,
    alias: str = "roi",
    *,
    min_den: float | None = None,
) -> DataFrame:
    """``roi = revenue / budget`` with guards (``kpis.py:58-61``).

    ``min_den`` reproduces the reference's ``when(budget_musd >= 10)`` floor
    (threshold from ``config/config.yaml:63``); rows below the floor get NULL
    (the reference's bare ``when`` without ``otherwise`` has the same effect).
    """
    ratio = safe_div(num, den)
    if min_den is not None:
        ratio = F.when(F.col(den) >= min_den, ratio).otherwise(F.lit(None))
    return df.withColumn(alias, ratio)
