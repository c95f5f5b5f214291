"""Training-mixture token allocation (water-filling).

Given per-source available token counts and TARGET mixture weights
(the DoReMi / Llama-style "domain weights" that define a pretraining
mix), allocate a global token budget: each source gets its proportional
share, sources that can't fill their share saturate at what they have,
and their deficit redistributes to the remaining sources proportionally
to weight — the classic water-filling fixed point, reached in at most
|sources| rounds. The existing ``doc_token_budget_mix`` query fills a
fixed per-language quota best-docs-first; this operator SOLVES for the
quotas themselves.

Scale shape: the corpus appears only in the caller's per-source token
aggregation (one map-side-combined groupBy). The allocation itself
iterates on the SOURCES table — tens of rows for language mixes,
thousands for domain mixes — with one crossJoin'd 1-row aggregate per
round; everything stays lazy (no collects), per-round checkpoints keep
the lineage linear.

Determinism: weights are quantized to parts-per-million int64 at entry,
so every Σweight is an exact integer sum; shares are fixed-order IEEE on
those exact integers, portable-round-6'd BEFORE the saturation compare —
the compare that drives control flow is bit-identical on any engine or
partitioning. The oracle twin unrolls the same rounds as CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.operators.materialize import materialize


def _r6(c):
    return pround(c, 6, 18).cast("double")


def mixture_allocation(
    sources: DataFrame,
    budget: int,
    source_col: str = "source",
    tokens_col: str = "tokens",
    weight_col: str = "weight",
    max_iter: int = 8,
) -> DataFrame:
    """One row per source: (source, tokens, weight, allocated, sampling_rate,
    saturated).

    ``sources`` carries one row per source with the available token count
    and the target mixture weight (any positive scale — normalized
    internally). ``allocated`` is the integer token quota
    (``floor`` of the proportional share for unsaturated sources, the
    full supply for saturated ones); ``sampling_rate`` = allocated /
    tokens (round-6) — feed it to the deterministic samplers
    (fingerprint-threshold resampling) downstream. If the budget exceeds
    the total supply every source saturates and the leftover budget is
    simply unspent.
    """
    wq = F.floor(F.col(weight_col) * F.lit(1e6) + F.lit(0.5)).cast("long")
    state = materialize(
        sources.select(
            F.col(source_col).alias("source"),
            F.col(tokens_col).cast("long").alias("tokens"),
            F.col(weight_col).cast("double").alias("weight"),
            wq.alias("_wq"),
            F.lit(False).alias("_sat"),
        )
    )

    share = _r6(
        (F.col("_wq").cast("double") / F.col("_t").cast("double"))
        * (F.lit(float(budget)) - F.col("_used").cast("double"))
    )
    for _ in range(max_iter):
        totals = state.agg(
            F.sum(F.when(~F.col("_sat"), F.col("_wq")).otherwise(F.lit(0))).alias("_t"),
            F.sum(F.when(F.col("_sat"), F.col("tokens")).otherwise(F.lit(0))).alias("_used"),
        )
        state = materialize(
            state.crossJoin(F.broadcast(totals))
            .select(
                "source",
                "tokens",
                "weight",
                "_wq",
                # the _t > 0 guard must be a lazily-evaluated branch, not a
                # conjunct: when every source has saturated (_t = 0, budget
                # ≥ total supply) the share expression divides by zero
                (
                    F.col("_sat")
                    | F.when(
                        F.col("_t") > 0, share >= F.col("tokens").cast("double")
                    ).otherwise(F.lit(False))
                ).alias("_sat"),
            )
        )
    finals = state.agg(
        F.sum(F.when(~F.col("_sat"), F.col("_wq")).otherwise(F.lit(0))).alias("_t"),
        F.sum(F.when(F.col("_sat"), F.col("tokens")).otherwise(F.lit(0))).alias("_used"),
    )
    # zero-weight sources never saturate and earn nothing; the _t > 0 arm
    # keeps the share division un-evaluated when no weighted source remains
    alloc = (
        F.when(F.col("_sat"), F.col("tokens"))
        .when(F.col("_t") > 0, F.least(F.col("tokens"), F.floor(share).cast("long")))
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        state.crossJoin(F.broadcast(finals))
        .select(
            "source",
            "tokens",
            "weight",
            alloc.alias("allocated"),
            F.when(
                F.col("tokens") > 0,
                _r6(alloc.cast("double") / F.col("tokens").cast("double")),
            ).alias("sampling_rate"),
            F.col("_sat").alias("saturated"),
        )
    )


def mixture_allocation_oracle_sql(
    sources_sql: str,
    budget: int,
    max_iter: int = 8,
) -> str:
    """DuckDB twin of :func:`mixture_allocation`, unrolled ``max_iter``
    rounds (the trained-IVF/BPE precedent). ``sources_sql`` must yield
    (source, tokens, weight)."""
    r6 = (
        lambda e: f"CAST(CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)"
    )
    share = r6(
        "(CAST(_wq AS DOUBLE) / CAST(_t AS DOUBLE)) * "
        f"(CAST({budget} AS DOUBLE) - CAST(_used AS DOUBLE))"
    )
    ctes = [
        f"""s0 AS (
  SELECT source, CAST(tokens AS BIGINT) AS tokens, CAST(weight AS DOUBLE) AS weight,
         CAST(FLOOR(CAST(weight AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS _wq, FALSE AS _sat
  FROM ({sources_sql}) src
)"""
    ]
    for k in range(1, max_iter + 1):
        prev = f"s{k-1}"
        ctes.append(
            f"""a{k} AS (
  SELECT SUM(CASE WHEN NOT _sat THEN _wq ELSE 0 END) AS _t,
         SUM(CASE WHEN _sat THEN tokens ELSE 0 END) AS _used
  FROM {prev}
)"""
        )
        ctes.append(
            # CASE (not AND): lazily skip the share division when _t = 0
            f"""s{k} AS (
  SELECT source, tokens, weight, _wq,
         (_sat OR CASE WHEN _t > 0 THEN {share} >= CAST(tokens AS DOUBLE) ELSE FALSE END) AS _sat
  FROM {prev} CROSS JOIN a{k}
)"""
        )
    last = f"s{max_iter}"
    alloc = (
        f"CASE WHEN _sat THEN tokens "
        f"WHEN _t > 0 THEN LEAST(tokens, CAST(FLOOR({share}) AS BIGINT)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
fin AS (
  SELECT SUM(CASE WHEN NOT _sat THEN _wq ELSE 0 END) AS _t,
         SUM(CASE WHEN _sat THEN tokens ELSE 0 END) AS _used
  FROM {last}
)
SELECT source, tokens, weight,
       {alloc} AS allocated,
       CASE WHEN tokens > 0 THEN {r6(f"CAST(({alloc}) AS DOUBLE) / CAST(tokens AS DOUBLE)")} END AS sampling_rate,
       _sat AS saturated
FROM {last} CROSS JOIN fin
"""
    )


def temperature_sampling_rates(
    per_group: DataFrame,
    tau: float = 0.7,
    budget: int | None = None,
    group_col: str = "group",
    count_col: str = "n",
) -> DataFrame:
    """Temperature-smoothed mixture rates — the multilingual-pretraining
    sampling formula (public per Devlin et al. 2019 app. A / Conneau &
    Lample 2019 / XLM-R): q_l ∝ (n_l/N)^τ with τ < 1 upweighting the
    tail groups so low-resource languages/domains are not drowned by the
    head. Input: ONE row per group with its available unit count. Output
    per group: ``(group_col, n, share, temp_share, target, keep_rate,
    keep_mille)`` where ``target = floor(budget · temp_share)`` (budget
    defaults to the total supply — pure reweighting), ``keep_rate =
    min(1, target/n)`` and ``keep_mille`` is the integer per-mille
    threshold to feed the deterministic fingerprint samplers
    (``fingerprint(text) % 1000 < keep_mille`` — content-stable keeps,
    the doc_lang_resample pattern).

    Engine exactness: shares, the τ-powers, and every ratio are
    portable-round-6'd the moment they exist (``pow`` is the one
    transcendental here; rounding absorbs last-ulp divergence), and the
    normalizing sum of the rounded powers is an exact decimal sum. The
    whole computation is group-cardinality-sized (a handful of rows,
    always broadcast); the corpus-sized work stays in the caller's
    count aggregation and downstream fingerprint filter.
    """
    n = F.col(count_col).cast("long")
    # base feeds four consumers (total, shares, power sum, output) —
    # materialize so the caller's corpus aggregation runs exactly once
    base = materialize(per_group.select(F.col(group_col), n.alias("n")))
    tot = base.agg(F.sum("n").alias("_tot"))
    shared = base.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n",
        "_tot",
        _r6(F.col("n").cast("double") / F.col("_tot").cast("double")).alias("share"),
    )
    powed = shared.select(
        "*", _r6(F.pow(F.col("share").cast("double"), F.lit(float(tau)))).alias("_p")
    )
    psum = powed.agg(F.sum("_p").alias("_psum"))
    out = powed.crossJoin(F.broadcast(psum)).select(
        group_col,
        "n",
        "share",
        _r6(F.col("_p").cast("double") / F.col("_psum").cast("double")).alias(
            "temp_share"
        ),
        "_tot",
    )
    bexpr = (
        F.col("_tot").cast("double") if budget is None else F.lit(float(budget))
    )
    target = F.floor(bexpr * F.col("temp_share").cast("double")).cast("long")
    rate = _r6(
        F.least(
            F.lit(1.0), target.cast("double") / F.col("n").cast("double")
        )
    )
    return out.select(
        group_col,
        "n",
        "share",
        "temp_share",
        target.alias("target"),
        rate.alias("keep_rate"),
        F.floor(rate.cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("int")
        .alias("keep_mille"),
    )
