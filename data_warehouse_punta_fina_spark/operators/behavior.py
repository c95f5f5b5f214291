"""Behavioral analytics over event streams (north-star extension).

Ordered funnels and retention cohorts — the two analytics every
event-sourced warehouse ends up needing next to sessionization. The
reference has no behavioral tier (its events never leave the DW rows);
these compose from joins/aggregates only, no UDFs, no windows over the
full table.

Scale shape:

- :func:`funnel_progress` — one filtered aggregate per funnel step, each
  keyed by user (map-side combined); step k joins step k-1's per-user
  1-row table, so the data volume SHRINKS monotonically down the funnel.
  Event rows are scanned once per step WITH the step's type filter pushed
  to the scan — at 100 TB each step reads only its event-type partition
  slice (cluster the event table by type/date via ``write_clustered``).
- :func:`retention_cohorts` — two user-keyed aggregates and one join on
  user; output is (cohorts × offsets)-sized, tiny at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.materialize import materialize


def funnel_progress(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
) -> DataFrame:
    """Per-user ordered-funnel progress: a user completes step ``k`` at
    the EARLIEST event of type ``steps[k]`` strictly after their step
    ``k-1`` completion (the standard strict-order funnel). Returns
    (user, steps_completed) for every user who entered the funnel
    (completed step 0); ``within_seconds`` additionally requires every
    step to land within that window of the step-0 time.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    lv = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    deadline = (
        F.col("_t0") + F.make_interval(secs=F.lit(float(within_seconds)))
        if within_seconds is not None
        else None
    )
    levels = [lv.select(user_col, F.lit(1).alias("_lv"))]
    prev = lv.withColumnRenamed("_t", "_t0").withColumn("_tprev", F.col("_t0"))
    for k, step in enumerate(steps[1:], start=2):
        nxt = events.filter(F.col(type_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("_ts")
        )
        j = nxt.join(prev, user_col).filter(F.col("_ts") > F.col("_tprev"))
        if deadline is not None:
            j = j.filter(F.col("_ts") <= deadline)
        cur = j.groupBy(user_col, "_t0").agg(F.min("_ts").alias("_tprev"))
        levels.append(cur.select(user_col, F.lit(k).alias("_lv")))
        prev = cur
    allv = levels[0]
    for more in levels[1:]:
        allv = allv.unionByName(more)
    return allv.groupBy(user_col).agg(
        F.max("_lv").cast("int").alias("steps_completed")
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: users grouped by first-activity week
    (cohort), counted in every later week they appear. Output
    (cohort_week DATE, week_offset INT, n_users) — the classic cohort
    grid, computable by any engine with date_trunc('week') (ISO Monday
    weeks in both Spark and DuckDB)."""
    wk = F.date_trunc("week", F.col(ts_col))
    first = events.groupBy(user_col).agg(F.min(wk).alias("_cohort"))
    active = events.select(F.col(user_col), wk.alias("_week")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            F.col("_cohort").cast("date").alias("cohort_week"),
            (F.datediff(F.col("_week"), F.col("_cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def rfm_scores(
    df: DataFrame,
    key: str,
    recency_col: str,
    frequency_col: str,
    monetary_col: str,
    k: int = 5,
) -> DataFrame:
    """RFM segmentation (the classic retention-marketing warehouse
    analysis): per-entity Recency / Frequency / Monetary quintile scores
    1..``k`` — each an independent exact NTILE over the whole population,
    higher = better on every axis (``recency_col`` must be a "later is
    better" value like a last-order timestamp; frequency and monetary
    rank ascending naturally) — plus a standard segment label:

        champion      R≥4 ∧ F≥4 ∧ M≥4     hibernating  R≤2 ∧ F≤2
        at_risk       R≤2 (but F≥3)        big_spender  M=k
        loyal         F≥4                  regular      everything else

    (CASE order matters and is mirrored verbatim in the oracle.)

    Input should already be aggregated to one row per key (entity-
    cardinality-sized) — the three :func:`exact_ntile` passes each run
    the two-pass distributed rank over that table, so the whole operator
    is window-free at any population size. Ties break on the key, making
    every score deterministic.
    """
    from data_warehouse_punta_fina_spark.operators.windows import exact_ntile

    # three INDEPENDENT rank branches from one checkpointed input, joined
    # back on the key — not a chain. Two reasons: a chain without
    # materialization boundaries re-executes upstream rank subplans
    # combinatorially (~3^3 lineage blowup, measured 28 s on a 1.5k-row
    # table), and even a checkpoint-linearized chain serializes the three
    # sorts' stages; independent branches let the scheduler overlap them
    # (each exact_ntile is constant-job-count, so the bench floor is
    # scheduling overhead, not data).
    base = materialize(df)
    r = exact_ntile(base.select(key, recency_col), [recency_col, key], k, out="r_score").select(
        key, "r_score"
    )
    fq = exact_ntile(
        base.select(key, frequency_col), [frequency_col, key], k, out="f_score"
    ).select(key, "f_score")
    mo = exact_ntile(
        base.select(key, monetary_col), [monetary_col, key], k, out="m_score"
    ).select(key, "m_score")
    scored = base.join(r, key).join(fq, key).join(mo, key)
    r, f, m = F.col("r_score"), F.col("f_score"), F.col("m_score")
    return scored.withColumn(
        "segment",
        F.when((r >= 4) & (f >= 4) & (m >= 4), "champion")
        .when((r <= 2) & (f <= 2), "hibernating")
        .when(r <= 2, "at_risk")
        .when(m == k, "big_spender")
        .when(f >= 4, "loyal")
        .otherwise("regular"),
    )


def basket_affinity(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 3,
    top_k: int = 50,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Market-basket pair affinity — support / confidence / lift for
    items co-occurring in a basket (order, session, cart), the classic
    association-rule screen (Agrawal & Srikant 1994's frequent-pair
    stage):

        support(a,b)    = baskets(a,b) / n_baskets
        confidence(a→b) = baskets(a,b) / baskets(a)
        lift(a,b)       = support(a,b) / (support(a)·support(b))

    Output: top-``top_k`` pairs by (lift desc, item_a, item_b) among
    pairs in ≥ ``min_pair_count`` baskets — (item_a, item_b, n_pair,
    n_a, n_b, support, confidence, lift), item_a < item_b.

    Scale shape: baskets are deduped to distinct (basket, item) first
    (16-byte-ish keys, map-side combined); the pair stage is a self-join
    ON THE BASKET KEY, so fan-out is items-per-basket², bounded by real
    basket sizes (~tens) — never an item×item cross.
    ``max_basket_items`` is the skew guard: baskets above it (a crawler
    cart, a batch-import order) are dropped before pairing, exactly like
    ``ngram_jaccard_pairs``'s hot-shingle cap. Item supports join back
    from the vocabulary-sized per-item count table. The final top-k is a
    TakeOrdered. All ratios are fixed-order IEEE then portable round-6,
    so lift ties at the boundary resolve identically on any engine.
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    b = df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")).distinct()
    if max_basket_items is not None:
        big = (
            b.groupBy("_b")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_basket_items)
            .select("_b")
        )
        b = b.join(F.broadcast(big), "_b", "left_anti")
    b = materialize(b)  # consumed by totals, supports, both pair sides
    n_baskets = b.agg(F.countDistinct("_b").alias("_n"))
    item_n = b.groupBy("_i").agg(F.count("*").alias("_c"))
    pairs = (
        b.alias("x")
        .join(b.alias("y"), (F.col("x._b") == F.col("y._b")) & (F.col("x._i") < F.col("y._i")))
        .groupBy(F.col("x._i").alias("item_a"), F.col("y._i").alias("item_b"))
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_pair_count)
    )
    n = F.col("_n").cast("double")
    na, nb, nab = (
        F.col("n_a").cast("double"),
        F.col("n_b").cast("double"),
        F.col("n_pair").cast("double"),
    )
    return (
        pairs.join(item_n.select(F.col("_i").alias("item_a"), F.col("_c").alias("n_a")), "item_a")
        .join(item_n.select(F.col("_i").alias("item_b"), F.col("_c").alias("n_b")), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            "n_a",
            "n_b",
            pround(nab / n, 6, 12).alias("support"),
            pround(nab / na, 6, 12).alias("confidence"),
            pround((nab / n) / ((na / n) * (nb / n)), 6, 12).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(top_k)
    )


def frequent_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 3,
    top_k: int = 50,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Frequent item TRIPLES — the A-priori level after
    :func:`basket_affinity`'s pairs (Agrawal & Srikant 1994): candidate
    triples are generated ONLY by extending frequent pairs (downward
    closure: every sub-pair of a frequent triple is frequent), so the
    combinatorial k=3 space never materializes.

    Shape: distinct (basket, item) → frequent-pair set (basket-keyed
    self-join, counts ≥ min_count; vocabulary-sized, broadcast) →
    occurrences of frequent pairs per basket extend with a third item
    c > b from the same basket (basket-keyed join) → A-priori prune:
    (a, c) AND (b, c) must also be frequent (two broadcast semi-joins)
    → count, filter ≥ min_count, top-k by (count desc, items).
    ``max_basket_items`` is the same skew cap as the pair stage.
    Output: (item_a, item_b, item_c, n_triple, support), support =
    n_triple / n_baskets (round-6; n_baskets counted AFTER the cap).
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    b = df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")).distinct()
    if max_basket_items is not None:
        big = (
            b.groupBy("_b")
            .agg(F.count("*").alias("_sz"))
            .filter(F.col("_sz") > max_basket_items)
            .select("_b")
        )
        b = b.join(F.broadcast(big), "_b", "left_anti")
    b = materialize(b)
    n_baskets = b.agg(F.countDistinct("_b").alias("_n"))
    pair_occ = materialize(
        b.alias("x")
        .join(b.alias("y"), (F.col("x._b") == F.col("y._b")) & (F.col("x._i") < F.col("y._i")))
        .select(F.col("x._b").alias("_b"), F.col("x._i").alias("a"), F.col("y._i").alias("bb"))
    )
    freq_pairs = materialize(
        pair_occ.groupBy("a", "bb").agg(F.count("*").alias("_c")).filter(F.col("_c") >= min_count)
        .select("a", "bb")
    )
    fp_occ = pair_occ.join(F.broadcast(freq_pairs), ["a", "bb"], "left_semi").alias("fp")
    cand = (
        fp_occ.join(
            b.alias("z"),
            (F.col("fp._b") == F.col("z._b")) & (F.col("z._i") > F.col("fp.bb")),
        )
        .select(F.col("fp._b").alias("_b"), "a", "bb", F.col("z._i").alias("c"))
        # downward closure: (a, c) and (bb, c) must be frequent pairs too
        .join(
            F.broadcast(freq_pairs.select(F.col("a"), F.col("bb").alias("c"))),
            ["a", "c"],
            "left_semi",
        )
        .join(
            F.broadcast(freq_pairs.select(F.col("a").alias("bb"), F.col("bb").alias("c"))),
            ["bb", "c"],
            "left_semi",
        )
    )
    counted = (
        cand.groupBy("a", "bb", "c")
        .agg(F.count("*").alias("n_triple"))
        .filter(F.col("n_triple") >= min_count)
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("a").alias("item_a"),
            F.col("bb").alias("item_b"),
            F.col("c").alias("item_c"),
            F.col("n_triple").cast("bigint").alias("n_triple"),
            pround(F.col("n_triple").cast("double") / F.col("_n").cast("double"), 6, 12)
            .cast("double")
            .alias("support"),
        )
    )
    return counted.orderBy(
        F.desc("n_triple"), F.asc("item_a"), F.asc("item_b"), F.asc("item_c")
    ).limit(top_k)


def linear_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conv_type: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    window_hours: int = 24,
) -> DataFrame:
    """Linear multi-touch attribution: each conversion splits ONE unit of
    credit equally across ALL its touches in the preceding window
    (last-touch — the union-window as-of variant — credits only the
    latest; linear is the standard alternative when journeys have many
    touches). Conversions with no touch in the window credit 'organic'.

    Shape: conversions join touches on the USER key with the time window
    as a residual predicate — fan-out is touches-per-user-per-window
    (bounded by real behavior), never user×user; per-conversion touch
    counts come from one aggregate; per-touch weights are round-6
    decimals (1/k), so the per-channel credit sums are EXACT and
    partition-order independent. Output: (channel, conversions,
    credited) where ``credited`` sums the fractional credits (round-6 at
    the boundary) and ``conversions`` counts conversions that credited
    the channel at all. Conversions are identified by ``id_col`` so
    same-timestamp purchases never merge or double their touch counts.
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    conv = events.filter(F.col(type_col) == conv_type).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_cts"),
        F.col(id_col).alias("_cid"),
    )
    touch = events.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_tts"),
        F.col(type_col).alias("channel"),
    )
    joined = conv.join(
        touch,
        (conv["_u"] == touch["_u"])
        & (F.col("_tts") <= F.col("_cts"))
        & (F.col("_tts") >= F.col("_cts") - F.expr(f"INTERVAL {window_hours} HOURS")),
        "left",
    ).select(conv["_u"].alias("_u"), "_cid", "channel")
    k = Window.partitionBy("_cid")
    with_k = joined.withColumn(
        "_k", F.count("channel").over(k)
    ).withColumn(
        "channel", F.coalesce(F.col("channel"), F.lit("organic"))
    ).withColumn(
        "_w",
        F.when(F.col("_k") == 0, pround(F.lit(1.0), 6, 12)).otherwise(
            pround(F.lit(1.0) / F.col("_k").cast("double"), 6, 12)
        ),
    )
    return (
        with_k.groupBy("channel")
        .agg(
            F.countDistinct("_cid").alias("conversions"),
            F.sum("_w").alias("_credited"),
        )
        .select(
            "channel",
            F.col("conversions").cast("bigint").alias("conversions"),
            F.col("_credited").cast("double").alias("credited"),
        )
    )
