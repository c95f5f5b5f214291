"""Distributed sampling primitives.

Deterministic counterparts to the reference-free sampling a training-data
pipeline needs: the stratified / split / resample family lives in
the registry's curation queries (fingerprint-bucket splits,
per-language keep rates); this module holds the reusable primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.operators.materialize import materialize

# 16^13 = 2^52: 13 hex digits convert exactly into a double-precision int
_HEX13_SPAN = float(1 << 52)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    seed: str = "ws",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — the Efraimidis-Spirakis
    A-ES one-pass scheme: each row draws a uniform ``u`` and ranks by
    ``u^(1/w)``; the top-``k`` keys are an exact weighted sample. Rows
    with non-positive weights are excluded (their inclusion probability
    is zero). This is THE distributed primitive for "sample 1M docs
    proportional to quality/length" — one map pass + a TakeOrdered, no
    per-stratum loops, no rejection sampling.

    Determinism: ``u`` derives from ``md5(seed | id)`` (13 hex digits →
    an exact 2^52-range integer, +1 to stay in (0,1]), so the sample is
    reproducible across runs, engines, and partitionings — same property
    as the fingerprint-bucket splits. Ranking uses the monotone log form
    ``ln(u)/w`` (avoids underflow for large weights), portable-round-9'd
    so an engine's last-ulp ln() difference can't flip a boundary rank;
    ties break on the id. Returns the sampled rows + ``sample_key``.
    """
    w = F.col(weight_col).cast("double")
    digits = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("bigint")
    u = (digits + F.lit(1)).cast("double") / F.lit(_HEX13_SPAN)
    key = pround(F.log(u) / w, 9, 18)
    return (
        df.filter(w > 0)
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """Items occurring more than N/k times, via the classic two-pass
    distributed heavy-hitters scheme: a bounded-memory Misra-Gries
    summary PER PARTITION proposes candidates, then an exact
    candidate-restricted recount verifies. The MG guarantee makes the
    candidate union a PROVABLE superset of every true heavy hitter
    (freq > N/k globally ⇒ freq_p > N_p/(k+1) in some partition ⇒ the
    item survives that partition's k-counter summary), so the final
    output is EXACT — deterministic under any partitioning, which is
    what makes it oracle-checkable at all.

    Why not just groupBy-count? At 100 TB with a heavy-tailed key space
    (tokens, URLs, user agents) the full count table is huge; here the
    shuffled recount touches only ≤ k·partitions candidate keys. The MG
    stage is Arrow-batched Python (a per-partition dict of ≤ k
    counters — the textbook sketch, O(k) memory regardless of input);
    the recount is JVM-side. The threshold compare is exact integer
    arithmetic (count·k > N — no float division).

    Output: (item, n_occurrences) for every item with n·k > N.

    Round-15 shape notes (same output, two passes instead of three):

    - the per-partition sketch is **batched** Misra-Gries: exact Arrow
      batch counts (``value_counts``, vectorized C) merged into the
      running k-counter summary with the mergeable-summaries operation
      (add counters; if > k survive, subtract the (k+1)-th largest and
      drop non-positives — Agarwal et al., "Mergeable Summaries"). The
      merged summary carries the SAME worst-case undercount bound
      (N_p/(k+1)) as the row-at-a-time textbook loop, so the candidate
      union stays a provable superset and the exact recount still makes
      the final output deterministic — while the Python-side work drops
      from one dict probe per TOKEN to one merge per batch;
    - the sketch pass also emits its partition's exact row count, so the
      global N rides out of the same pass instead of a third full scan
      of the (tokenize-heavy) input.
    """
    import pandas as pd
    from pyspark.sql import types as T

    def mg(it):
        summary = None
        n_part = 0
        for pdf in it:
            vc = pdf["_i"].value_counts()
            n_part += int(vc.sum())
            summary = vc if summary is None else summary.add(vc, fill_value=0)
            if len(summary) > k:
                thr = summary.nlargest(k + 1).iloc[-1]
                summary = summary - thr
                summary = summary[summary > 0]
        keys = [] if summary is None else list(summary.index)
        yield pd.DataFrame({"_i": keys + [None], "_c": [0] * len(keys) + [n_part]})

    items = df.select(F.col(col).alias("_i")).filter(F.col("_i").isNotNull())
    # _i must be NULLABLE regardless of the input field: the partition-count
    # sentinel row carries _i = NULL
    sk_schema = T.StructType(
        [
            T.StructField("_i", items.schema.fields[0].dataType, True),
            T.StructField("_c", T.LongType()),
        ]
    )
    # candidates + partition counts in ONE pass; tiny (≤ (k+1)·partitions
    # rows) but consumed twice, so materialize the blocks
    sketch = materialize(items.mapInPandas(mg, schema=sk_schema))
    cands = sketch.filter(F.col("_i").isNotNull()).select("_i").distinct()
    total = sketch.agg(F.sum("_c").alias("_n"))
    return (
        items.join(F.broadcast(cands), "_i", "left_semi")
        .groupBy("_i")
        .agg(F.count("*").alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * F.lit(k) > F.col("_n"))
        .select(F.col("_i").alias(col), "n_occurrences")
    )


def neyman_allocation(
    df: DataFrame,
    strata_cols: list[str],
    value_col: str,
    total_n: int,
    value_scale: int = 2,
) -> DataFrame:
    """Neyman optimal allocation for stratified sampling: assign a total
    sample budget across strata proportional to ``N_h · S_h`` (stratum
    size × population standard deviation) — the design that minimizes
    the variance of the stratified mean estimator (Neyman 1934). The
    planning step in front of :func:`weighted_sample` /
    fingerprint-bucket stratified sampling: spend the budget where the
    data varies, not just where it is plentiful.

    Exactness: S_h comes from exact sufficient statistics (int64
    quantized values, DECIMAL(38,0) squared sums — the grouped_ols
    discipline) via the population-variance identity
    ``(n·Σq² − (Σq)²)/n²``; the one sqrt and the quota division are
    fixed-order IEEE, round-6'd. Integer allocations use the
    largest-remainder (Hamilton) method: floor every exact quota, hand
    the leftover seats to the largest fractional remainders (ties →
    stratum key ascending) — deterministic on any engine, total always
    exactly ``total_n``. Constant strata (S_h = 0) get quota 0 — callers
    needing a minimum per stratum add it before calling.

    Shape: one map-side-combined aggregate to strata-sized rows; the
    rank/remainder windows run over the tiny strata table. Output:
    (strata…, n_pop, std, quota, alloc).
    """
    from pyspark.sql import Window

    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(10**value_scale)) + F.lit(0.5)
    ).cast("long")
    stats = df.select(*strata_cols, q.alias("_q")).groupBy(*strata_cols).agg(
        F.count("*").alias("n_pop"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_s"),
        F.sum(F.col("_q").cast("decimal(38,0)") * F.col("_q")).alias("_s2"),
    )
    n = F.col("n_pop").cast("double")
    var = (n * F.col("_s2").cast("double") - F.col("_s").cast("double") * F.col("_s").cast("double")) / (
        n * n
    )
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    scale = F.lit(float(10**value_scale))
    with_std = stats.withColumn("_std_q", F.sqrt(F.greatest(var, F.lit(0.0))))
    # N_h·S_h needs DECIMAL(28,6), not (18,6): at 5× sf0.1 a stratum's
    # n·std(cents) already exceeds 1e12 (found by the sf0.5 scaling run —
    # ANSI overflow, not silent truncation); (28,6) holds to n·std ≈ 1e22,
    # comfortably past 1e12-row strata at 100 TB
    with_w = with_std.withColumn("_w", pround(n * F.col("_std_q"), 6, 28).cast("double"))
    tot = with_w.agg(
        F.sum(pround(F.col("_w"), 6, 28)).alias("_tw"),
        F.sum("n_pop").alias("_N"),
    )
    # all-constant-strata edge (every S_h = 0): fall back to proportional-
    # to-size allocation instead of a 0/0 quota
    quota = F.lit(float(total_n)) * F.when(
        F.col("_tw").cast("double") > 0.0,
        F.col("_w") / F.col("_tw").cast("double"),
    ).otherwise(n / F.col("_N").cast("double"))
    ordk = [F.asc(c) for c in strata_cols]
    w_rem = Window.partitionBy(F.pmod(F.xxhash64(*strata_cols), F.lit(1))).orderBy(
        F.desc("_frac"), *ordk
    )
    with_quota = (
        with_w.crossJoin(F.broadcast(tot))
        .withColumn("_quota", quota)
        .withColumn("_floor", F.floor(F.col("_quota")).cast("long"))
        .withColumn("_frac", F.col("_quota") - F.col("_floor"))
    )
    leftover = with_quota.agg(
        (F.lit(total_n) - F.sum("_floor")).cast("long").alias("_left")
    )
    return (
        with_quota.crossJoin(F.broadcast(leftover))
        .withColumn("_rk", F.row_number().over(w_rem))
        .select(
            *strata_cols,
            "n_pop",
            r6(F.col("_std_q") / scale).alias("std"),
            r6(F.col("_quota")).alias("quota"),
            (F.col("_floor") + (F.col("_rk") <= F.col("_left")).cast("long")).alias("alloc"),
        )
    )


def systematic_sample(
    df: DataFrame,
    order_by: list[str],
    every_k: int,
    offset: int = 0,
) -> DataFrame:
    """Systematic (every k-th) sampling over a total order — the
    classical design when the frame is sorted by an auxiliary variable
    (date, key): deterministic, evenly spread over the order, zero RNG.

    The global position comes from the two-pass range-partitioned
    :func:`~data_warehouse_punta_fina_spark.operators.windows.ranked_sequential_id`
    (no global window); a row is kept iff ``(pos − 1) % k == offset``.
    ``order_by`` must be a total order (append the key), or positions —
    and therefore the sample — would be tie-ambiguous."""
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")
    if not 0 <= offset < every_k:
        raise ValueError(f"offset must be in [0, {every_k}), got {offset}")
    # round-16 (guide §2.4 share one exchange): the rank re-derives its
    # sample/offsets/rank branches from lineage by design; on an
    # under-partitioned input (one parquet split at bench SF) each branch
    # re-ran the whole scan on ONE core, serially (profiled: two 1.1 s
    # single-task scan stages). _spread inserts one narrow exchange that
    # ReuseExchange shares across all three branches — scan once, branches
    # read shuffle blocks in parallel. No-op at scale (inputs already wide)
    # and rank values are partition-independent by construction.
    ranked = ranked_sequential_id(_spread(df), order_by, out="_pos")
    return ranked.filter((F.col("_pos") - 1) % every_k == offset).drop("_pos")
