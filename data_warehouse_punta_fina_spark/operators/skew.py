"""Skew-aware aggregation (scale posture, SURVEY.md §4).

Spark's hash aggregate already does map-side partial aggregation, and AQE
splits skewed JOIN partitions — but a skewed GROUP BY key whose partials
are large (e.g. count-distinct states, big collect-style aggs) still
funnels one reducer. The classic fix is explicit two-phase aggregation
over a salt: shuffle (key, salt) first (buckets × smaller groups), then
re-aggregate by key. For algebraic aggs (sum/count/min/max) the result is
identical to the direct aggregation — asserted by the oracle-backed
``salted_revenue_by_flag`` driver query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.materialize import materialize


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, Column]],
    buckets: int = 16,
    salt_from: Column | None = None,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) → groupBy(keys).

    ``aggs`` maps output name → (fn, input column) with fn in
    sum/count/min/max (the re-aggregatable algebraic aggregates the
    reference's config declares, `etl_config.yaml:147-200`). ``salt_from``
    defaults to a deterministic hash of the input row's partition — any
    salt yields the same final result; determinism only matters for
    reproducing intermediate partial sizes.
    """
    salt = (salt_from if salt_from is not None else F.spark_partition_id()) % F.lit(buckets)
    partial_exprs = []
    final_exprs = []
    for name, (fn, col) in aggs.items():
        if fn == "sum":
            partial_exprs.append(F.sum(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "count":
            partial_exprs.append(F.count(col).alias(f"_p_{name}"))
            final_exprs.append(F.sum(f"_p_{name}").alias(name))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(f"_p_{name}"))
            final_exprs.append(F.min(f"_p_{name}").alias(name))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(f"_p_{name}"))
            final_exprs.append(F.max(f"_p_{name}").alias(name))
        else:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
    partial = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def key_skew_report(
    df: DataFrame,
    key: str,
    top_k: int = 10,
) -> DataFrame:
    """Join/group-key skew diagnostics — the operational PRE-check for
    every shuffle decision this engine documents (salting thresholds,
    AQE skew-join expectations, broadcast-vs-shuffle calls all start from
    "how hot is the hottest key?").

    One row per top-``top_k`` hottest key, ranked by count (ties to the
    smaller key string), carrying the key's share and cumulative share,
    with the corpus-wide distribution summary as constant columns:

        (rank, key, n, share, cum_share,
         total_rows, n_keys, mean_per_key, p50, p90, p99, max_per_key,
         skew_ratio)

    ``skew_ratio = max_per_key / mean_per_key`` — >10 means the hottest
    reducer does 10× the average work: salt the aggregation
    (:func:`salted_agg`) or verify AQE splits the join.

    Scale shape: ONE shuffle (the per-key count, map-side combined —
    identical cost to the aggregation being diagnosed); the summary is a
    1-row aggregate over the counts table, broadcast back; the top-k is
    a TakeOrdered, no global sort. Exactness: counts are integers,
    percentiles are Spark's exact ``percentile`` (bit-identical to
    DuckDB ``quantile_cont``), shares are round-6'd fixed-order IEEE.
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    counts = materialize(  # consumed by summary AND top-k
        df.groupBy(F.col(key).cast("string").alias("key"))
        .agg(F.count("*").alias("n"))
    )
    summary = counts.agg(
        F.sum("n").alias("total_rows"),
        F.count("*").alias("n_keys"),
        F.percentile(F.col("n"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("n"), F.lit(0.9)).alias("p90"),
        F.percentile(F.col("n"), F.lit(0.99)).alias("p99"),
        F.max("n").alias("max_per_key"),
    )
    # rank + cumulative count over the ≤ top_k rows WITHOUT a global
    # window (the repo keeps the 'No Partition Defined' warning stream at
    # zero): a broadcast dominance self-join over ≤ top_k² pairs —
    # rank(i) = |{j : j ≤ i in (n desc, key asc) order}|, cum(i) = Σ n_j
    topped = materialize(counts.orderBy(F.desc("n"), F.asc("key")).limit(top_k))
    a, b = topped.alias("a"), topped.alias("b")
    dominates = (F.col("b.n") > F.col("a.n")) | (
        (F.col("b.n") == F.col("a.n")) & (F.col("b.key") <= F.col("a.key"))
    )
    top = (
        a.join(F.broadcast(b), dominates)
        .groupBy(F.col("a.key").alias("key"), F.col("a.n").alias("n"))
        .agg(F.count("*").cast("int").alias("rank"), F.sum("b.n").alias("_cum"))
    )
    mean = F.col("total_rows").cast("double") / F.col("n_keys").cast("double")
    return (
        top.crossJoin(F.broadcast(summary))
        .select(
            "rank",
            "key",
            "n",
            r6(F.col("n").cast("double") / F.col("total_rows").cast("double")).alias("share"),
            r6(F.col("_cum").cast("double") / F.col("total_rows").cast("double")).alias(
                "cum_share"
            ),
            "total_rows",
            "n_keys",
            r6(mean).alias("mean_per_key"),
            "p50",
            "p90",
            "p99",
            "max_per_key",
            r6(F.col("max_per_key").cast("double") / mean).alias("skew_ratio"),
        )
    )
