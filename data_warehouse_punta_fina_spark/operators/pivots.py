"""Pivoted / conditional aggregation (reference SURVEY.md §2.4 A5-A6).

The debit/credit ledger rollup (`complete_fact_builder.py:918-928`) and the
P&L pivot_table (`:1132-1145`). Conditional sums are a single hash
aggregate with map-side partials — the ideal 100 TB shape; ``pivot`` with
an explicit value list avoids the extra distinct-values scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def conditional_sum(when_col: str, equals: str, value: str, alias: str) -> Column:
    """SUM(CASE WHEN when_col = equals THEN value ELSE 0 END) AS alias."""
    return F.sum(F.when(F.col(when_col) == equals, F.col(value)).otherwise(F.lit(0))).alias(alias)


def pivot_sum(
    df: DataFrame,
    group_by: list[str],
    pivot_col: str,
    values: list[str],
    value_col: str,
    fill: float = 0,
) -> DataFrame:
    """groupBy().pivot(values).sum() with explicit pivot values (skips the
    distinct-scan Spark needs when values are unknown) and zero-fill —
    the reference's ``pivot_table(..., fill_value=0)``."""
    out = df.groupBy(*group_by).pivot(pivot_col, values).agg(F.sum(value_col))
    return out.na.fill(fill, subset=values)
