"""Source-reconciliation operators (reference SURVEY.md §2.3 J5/J6;
`core/data_validator.py:339-474`).

The reference full-outer-merges a DB extract against a CSV extract with
an indicator column, fills each column by priority (db then csv), and
counts left-only/right-only/common for the symmetry report. Spark-first:
full outer join + per-column coalesce; counts come from one aggregation
over the join indicator — a single shuffle on the reconciliation key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.sources.generators import literal_table


def reconcile_full_outer(
    primary: DataFrame,
    secondary: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    suffixes: tuple[str, str] = ("_db", "_csv"),
) -> DataFrame:
    """Full outer join on ``keys``; for each compare column emit both
    sides, the priority-coalesced value, and a match flag; plus a
    presence indicator ('both' | 'left_only' | 'right_only')."""
    sa, sb = suffixes
    a = primary.select(*keys, *[F.col(c).alias(f"{c}{sa}") for c in compare_cols]).withColumn(
        "_in_a", F.lit(1)
    )
    b = secondary.select(*keys, *[F.col(c).alias(f"{c}{sb}") for c in compare_cols]).withColumn(
        "_in_b", F.lit(1)
    )
    joined = a.join(b, keys, "full_outer")
    out = joined.withColumn(
        "presence",
        F.when(F.col("_in_a").isNotNull() & F.col("_in_b").isNotNull(), "both")
        .when(F.col("_in_a").isNotNull(), "left_only")
        .otherwise("right_only"),
    )
    for c in compare_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"{c}{sa}"), F.col(f"{c}{sb}")))
        out = out.withColumn(
            f"{c}_match",
            F.when(
                F.col(f"{c}{sa}").isNotNull() & F.col(f"{c}{sb}").isNotNull(),
                F.col(f"{c}{sa}") == F.col(f"{c}{sb}"),
            ),
        )
    return out.drop("_in_a", "_in_b")


def symmetry_counts(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """J6 symmetry report: rows only-in-A, only-in-B, and common —
    computed with two anti joins + one semi join over distinct keys."""
    ka = a.select(*keys).distinct()
    kb = b.select(*keys).distinct()
    spark = a.sparkSession
    left_only = ka.join(kb, keys, "left_anti").count()
    right_only = kb.join(ka, keys, "left_anti").count()
    common = ka.join(kb, keys, "left_semi").count()
    return literal_table(
        spark, [("left_only", left_only), ("right_only", right_only), ("common", common)],
        "side string, n long",
    )
