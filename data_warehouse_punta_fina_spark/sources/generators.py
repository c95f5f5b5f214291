"""Generated sources (reference SURVEY.md §2.1 S7-S8).

The reference materializes a 2020-2030 calendar with ``pd.date_range``
(`complete_dimension_builder.py:79-80`) and several hard-coded literal
catalogs (`:700-761`). Spark-first: ``sequence()`` + ``explode`` generates
the range inside the JVM — no driver-side loop, scales to any span.

Literal tables (catalogs, default members, query-term lists, report rows,
empty frames of a known schema) are built only by :func:`literal_table`,
which hands Spark an Arrow table and gets a ``LocalRelation`` back:
building one runs no job and reading one needs no Python worker (the
plan reads ``LocalTableScan``, not a Python-fed ``Scan ExistingRDD``).
A static test in tests/test_registry.py keeps every other package module
off ``createDataFrame``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def date_range_source(
    spark: SparkSession, start: str, end: str, col_name: str = "fecha"
) -> DataFrame:
    """One row per day in [start, end] — distributed, no driver loop."""
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit(start)), F.to_date(F.lit(end)), F.expr("interval 1 day")
                )
            ).alias(col_name)
        )
        # repartition so downstream per-day derivations parallelize even
        # though the generator itself starts from a single row
        .repartition(8)
    )


def monthly_periods(spark: SparkSession, start: str, end: str) -> DataFrame:
    """One row per month: periodo_id (yyyyMM int), first/last day.

    Mirrors the reference's monthly period generator loop
    (`complete_dimension_builder.py:1142-1169`) declaratively.
    """
    return (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.trunc(F.to_date(F.lit(start)), "month"),
                    F.trunc(F.to_date(F.lit(end)), "month"),
                    F.expr("interval 1 month"),
                )
            ).alias("inicio_mes")
        )
        .select(
            F.date_format("inicio_mes", "yyyyMM").cast("int").alias("periodo_id"),
            F.col("inicio_mes").alias("fecha_inicio"),
            F.last_day("inicio_mes").alias("fecha_fin"),
        )
    )


def literal_table(spark: SparkSession, rows: list[tuple], schema: T.StructType | str) -> DataFrame:
    """Inline table (S8) — e.g. tax types, payment methods — of ``rows``,
    tuples in ``schema`` column order (a DDL string or a StructType).

    Each row passes PySpark's own type verifier first, so a value
    ``createDataFrame(rows, schema)`` rejects (a float in a decimal
    column, a bool in an int column) raises here too. The rows then
    become an Arrow table typed from the schema, which Spark turns into
    a ``LocalRelation``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    struct = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    for row in rows:
        verify(row)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(col), type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
