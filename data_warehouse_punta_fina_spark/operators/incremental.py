"""Incremental aggregate maintenance (materialized-view delta merge).

The reference declares an ``incremental`` load strategy but stubs it to
truncate-and-reload (`loaders/database_loader.py:204-212`). This is the
real thing at the AGGREGATE level: yesterday's aggregate table + today's
raw delta rows → today's aggregate, WITHOUT rescanning history. The
row-level counterpart (type-1 upsert / SCD2) lives in ``operators.scd``.

Correct by arithmetic, not by trust: sums/counts are distributive, so
``agg(history ∪ delta) = merge(agg(history), agg(delta))`` EXACTLY —
provided the measures are DECIMAL (float partial sums re-associate;
decimal sums are associative bit-for-bit, the engine-wide policy). The
oracle for the demo query recomputes from scratch over the full input —
a genuinely different computation path, not a mirrored formula. The
demo query is ``revenue_incremental_merge`` (registry/olap.py).

Scale shape: the delta aggregates map-side (delta-sized), the merge is
one key-keyed full-outer join of two AGGREGATE tables (both tiny next to
the fact history). At 100 TB the history is never re-read — the entire
point. AVG and other algebraic measures derive from (sum, n) at read
time; holistic measures (exact distinct, median) are NOT mergeable this
way — keep those to full recompute or sketches, and this module refuses
them by design (only sums/counts here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_delta(
    delta_rows: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """GroupBy the raw delta into the aggregate's shape (exact decimal
    sums + row count)."""
    return delta_rows.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count("*").alias(count_col),
    )


def incremental_agg_merge(
    prev_agg: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """Merge a raw delta into an existing aggregate: full-outer join on
    the keys, null-safe sum of sums and counts. New keys appear, existing
    keys update, untouched keys pass through — and the result equals a
    full recompute bit-for-bit (decimal sums are associative)."""
    d = aggregate_delta(delta_rows, keys, sum_cols, count_col)
    p = prev_agg
    for c in [*sum_cols, count_col]:
        d = d.withColumnRenamed(c, f"_d_{c}")
        p = p.withColumnRenamed(c, f"_p_{c}")
    merged = p.join(d, keys, "full_outer")
    out_cols = [F.col(k) for k in keys]
    for c in sum_cols:
        # sum of decimals: widen via the join's own types; null-safe
        out_cols.append(
            (
                F.coalesce(F.col(f"_p_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            )
            .cast(dict(p.dtypes)[f"_p_{c}"])
            .alias(c)
        )
    out_cols.append(
        (
            F.coalesce(F.col(f"_p_{count_col}"), F.lit(0))
            + F.coalesce(F.col(f"_d_{count_col}"), F.lit(0))
        )
        .cast("long")
        .alias(count_col)
    )
    return merged.select(*out_cols)

