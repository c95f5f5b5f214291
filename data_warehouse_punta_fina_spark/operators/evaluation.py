"""Binary-classifier evaluation at corpus scale (model-eval tier).

A training-data pipeline that scores documents (quality gates, language
ID, dedup verdicts) needs to EVALUATE those scorers against labels at
the same scale it applies them. Three classical evaluation operators,
each exact (no sampling, no sketch) and shuffle-lean:

- :func:`binary_auc` — exact ROC-AUC via the Mann-Whitney U rank
  identity with average-rank tie handling. All arithmetic until the
  final division is int64 on score-DISTINCT aggregates, so the result
  is bit-reproducible across engines.
- :func:`decile_lift` — the classic gains/lift table over exact,
  front-loaded NTILE deciles (no global window;
  :func:`~data_warehouse_punta_fina_spark.operators.windows.exact_ntile`).
- :func:`woe_encoding` — Weight-of-Evidence categorical encoding with
  half-count smoothing, the standard supervised encoder for
  high-cardinality categoricals.

Scale posture: every operator aggregates FIRST (per distinct score /
per decile / per category) and only then windows or divides, so window
partitions are aggregate-sized; nothing shuffles raw rows more than
once. The reference has no evaluation surface at all — this tier is
part of the LLM-pipeline extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround6
from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.operators.windows import (
    const_partition,
    range_partitioned_cumsum,
)


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact ROC-AUC per group via Mann-Whitney U:

        AUC = (sum of positive ranks − n_pos(n_pos+1)/2) / (n_pos·n_neg)

    with ties taking the average rank. Computed on the score-DISTINCT
    aggregate: per score value s, ``cnt_s`` rows of which ``pos_s``
    positive; ascending cumulative count gives every row of s the
    average rank ``cum_before + (cnt+1)/2``. Doubling keeps it integer:
    2·Σ pos-ranks = Σ pos_s·(2·cum_before_s + cnt_s + 1), so

        AUC = (Σ − n_pos(n_pos+1)) / (2·n_pos·n_neg)

    is a ratio of exact int64s — one double division at the end
    (portable round-6). The ordering window runs over DISTINCT scores
    (bounded by score quantization — round-6 scores at most 2e6 values
    per unit interval), not rows. AUC is NULL for single-class groups.

    ``label_col`` must be boolean or 0/1. NULL scores are excluded up
    front: an unrankable row has no defined position in either path,
    and NULL-ordering differs between the grouped window (desc, NULLs
    last) and the ungrouped range-partitioned cumulative (asc on the
    raw score), so keeping them would silently diverge (ADVICE r7).
    """
    g = list(group_cols or [])
    df = df.filter(F.col(score_col).isNotNull())
    lab = F.col(label_col).cast("int")
    per_score = df.groupBy(*g, F.col(score_col).alias("_s")).agg(
        F.count("*").alias("_cnt"), F.sum(lab).alias("_pos")
    )
    if g:
        w = Window.partitionBy(*[F.col(c) for c in g]).orderBy("_s")
        cum = per_score.withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("_cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    else:
        # ungrouped: the score-DISTINCT aggregate still grows with data
        # (quantization-bounded, but ~2e6 rows worst case) — range-
        # partition the exclusive cumulative instead of funneling it
        # through one constant-keyed partition
        cum = range_partitioned_cumsum(
            per_score, "_s", "_cnt", out="_cum_before", inclusive=False
        )
    agg = cum.groupBy(*g).agg(
        F.sum("_pos").alias("n_pos"),
        F.sum(F.col("_cnt") - F.col("_pos")).alias("n_neg"),
        F.sum(F.col("_pos") * (2 * F.col("_cum_before") + F.col("_cnt") + 1)).alias("_s2"),
    )
    auc = (F.col("_s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double") / (
        2 * F.col("n_pos") * F.col("n_neg")
    ).cast("double")
    return agg.select(
        *g,
        "n_pos",
        "n_neg",
        F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), pround6(auc)).alias("auc"),
    )


def decile_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_cols: list[str],
    n_buckets: int = 10,
) -> DataFrame:
    """Gains/lift table: rows ranked by score DESCENDING into
    ``n_buckets`` exact front-loaded NTILE buckets (``id_cols`` break
    ties into a total order), then per bucket n, n_pos, pos_rate,
    cumulative capture of all positives, and lift vs the base rate.
    All counts exact int64; the three rates are single double divisions
    (portable round-6)."""
    from data_warehouse_punta_fina_spark.operators.windows import exact_ntile

    lab = F.col(label_col).cast("int")
    scored = df.select(
        F.col(score_col).alias("_sc"), lab.alias("_y"), *[F.col(c) for c in id_cols]
    ).withColumn("_neg", -F.col("_sc"))
    bucketed = exact_ntile(scored, ["_neg", *id_cols], n_buckets, out="bucket")
    per = bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("_y").alias("n_pos")
    )
    tot = per.agg(
        F.sum("n").alias("_tn"), F.sum("n_pos").alias("_tp")
    )
    # constant-valued NON-FOLDABLE partition key (const_partition): a
    # foldable lit(0) would be constant-folded to an EMPTY partition spec
    # — a true global window. The window is n_buckets rows, so one
    # constant-keyed hash partition is the right plan.
    w = (
        Window.partitionBy(const_partition("bucket"))
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .select(
            "bucket",
            "n",
            "n_pos",
            pround6(F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
                "pos_rate"
            ),
            pround6(F.col("cum_pos").cast("double") / F.col("_tp").cast("double")).alias(
                "cum_capture"
            ),
            pround6(
                (F.col("n_pos").cast("double") / F.col("n").cast("double"))
                / (F.col("_tp").cast("double") / F.col("_tn").cast("double"))
            ).alias("lift"),
        )
    )
    return out


def woe_encoding(
    df: DataFrame,
    cat_col: str,
    label_col: str,
) -> DataFrame:
    """Weight-of-Evidence per category with half-count smoothing:

        WOE(c) = ln( ((pos_c + 0.5)/pos_tot) / ((neg_c + 0.5)/neg_tot) )

    plus the category's Information-Value term
    ``iv = (pos_share − neg_share)·woe``. One groupBy + one broadcast
    of the 2-value totals; ln/division are the only double ops
    (portable round-6)."""
    lab = F.col(label_col).cast("int")
    per = df.groupBy(F.col(cat_col).alias("category")).agg(
        F.count("*").alias("n"), F.sum(lab).alias("n_pos")
    )
    tot = per.agg(F.sum("n_pos").alias("_pt"), F.sum(F.col("n") - F.col("n_pos")).alias("_nt"))
    ps = (F.col("n_pos") + F.lit(0.5)).cast("double") / F.col("_pt").cast("double")
    ns = (F.col("n") - F.col("n_pos") + F.lit(0.5)).cast("double") / F.col("_nt").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n",
            "n_pos",
            pround6(F.log(ps / ns)).alias("woe"),
            pround6((ps - ns) * F.log(ps / ns)).alias("iv_term"),
        )
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact average precision (area under the PR curve's step form) per
    group, with the PESSIMISTIC tie convention: within a tied-score
    block, positives rank LAST (the floor any tie-order achieves — so
    reported AP never flatters the scorer; conventions differ here and
    this one is documented + mirrored by the oracle).

    Computed on the score-DISTINCT aggregate ordered descending: a block
    with c rows / p positives after (N_b, P_b) better rows/positives
    contributes Σ_{i=1..p} (P_b + i)/(N_b + c − p + i). The per-positive
    terms explode via ``sequence(1, p)`` — total exploded rows = n_pos,
    never corpus-sized. Terms round-6 into exact decimal sums, one final
    division by n_pos. AP is NULL when a group has no positives.
    """
    g = list(group_cols or [])
    # NULL scores dropped for the same two-path NULL-ordering reason as
    # binary_auc (ADVICE r7): the grouped desc window sorts them last,
    # the ungrouped negated-ascending cumulative sorts them first.
    df = df.filter(F.col(score_col).isNotNull())
    lab = F.col(label_col).cast("int")
    per = df.groupBy(*g, F.col(score_col).alias("_s")).agg(
        F.count("*").alias("_c"), F.sum(lab).alias("_p")
    )
    if g:
        w = Window.partitionBy(*[F.col(c) for c in g]).orderBy(F.desc("_s"))
        cum = per.withColumn(
            "_nb",
            F.coalesce(
                F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        ).withColumn(
            "_pb",
            F.coalesce(
                F.sum("_p").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
    else:
        # ungrouped: both exclusive cumulatives range-partition in one
        # pass (desc order via the negated score) — the binary_auc
        # scale path, no constant-keyed single partition
        cum = range_partitioned_cumsum(
            per.withColumn("_negs", -F.col("_s")),
            "_negs",
            ["_c", "_p"],
            out=["_nb", "_pb"],
            inclusive=False,
        ).drop("_negs")
    terms = cum.filter(F.col("_p") > 0).select(
        *g,
        "_c",
        "_p",
        "_nb",
        "_pb",
        F.explode(F.sequence(F.lit(1), F.col("_p"))).alias("_i"),
    )
    term = (F.col("_pb") + F.col("_i")).cast("double") / (
        F.col("_nb") + F.col("_c") - F.col("_p") + F.col("_i")
    ).cast("double")
    agg = terms.groupBy(*g).agg(
        F.sum(pround6(term, 18)).alias("_ts"), F.max(F.col("_pb") + F.col("_p")).alias("_np")
    )
    # groups with zero positives never produce terms — restore them with
    # NULL ap via a left join from the group universe (constant-key join
    # in the ungrouped case: a crossJoin against an EMPTY agg would drop
    # the universe row when the data has no positives at all)
    universe = per.groupBy(*g).agg(F.sum("_p").alias("n_pos"), F.sum("_c").alias("n"))
    if g:
        joined = universe.join(agg, g, "left")
    else:
        joined = universe.withColumn("_k", F.lit(0)).join(
            F.broadcast(agg.withColumn("_k", F.lit(0))), "_k", "left"
        ).drop("_k")
    return joined.select(
        *g,
        "n",
        "n_pos",
        F.when(
            F.col("n_pos") > 0,
            pround6(F.col("_ts").cast("double") / F.col("n_pos").cast("double")),
        ).alias("avg_precision"),
    )


def loo_target_encoding(
    df: DataFrame,
    cat_col: str,
    target_cents_col: str,
    out: str = "loo_mean",
) -> DataFrame:
    """Leave-one-out target encoding — the leakage-free supervised
    encoder: each row's category mean EXCLUDES its own target,
    ``(Σ_cat − own)/(n_cat − 1)``. Categories with a single row encode
    NULL (no leave-one-out evidence; callers coalesce to a prior).

    ``target_cents_col`` must already be int64-quantized (the caller
    picks the scale), so the subtraction is exact and the single double
    division round-6s. One broadcast-joined aggregate — rows never
    reshuffle."""
    stats = df.groupBy(cat_col).agg(
        F.sum(target_cents_col).alias("_cs"), F.count("*").alias("_cn")
    )
    joined = df.join(F.broadcast(stats), cat_col)
    # precision 18: the encoded mean is in the CALLER's integer units
    # (cents), so the default (12,6) container is too narrow
    enc = F.when(
        F.col("_cn") > 1,
        pround6(
            (F.col("_cs") - F.col(target_cents_col)).cast("double")
            / (F.col("_cn") - 1).cast("double"),
            18,
        ),
    )
    return joined.withColumn(out, enc).drop("_cs", "_cn")


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram data + Expected-Calibration-Error terms:
    scores bin into ``n_bins`` equal-width [0,1] buckets; per bin the
    mean predicted score, the observed positive rate, and the ECE term
    ``(n_b/N)·|mean_score − pos_rate|``. ``Σ ece_term`` IS the ECE.

    Determinism: scores are round-6 quantized to integer millionths, so
    bin assignment, per-bin integer sums, and the three closing
    divisions are exact/portable. Bin ids cover only observed bins
    (empty bins contribute 0 to ECE by definition)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    lab = F.col(label_col).cast("int")
    # integer millionths: the round-6 lattice the whole repo scores on
    q6 = F.floor(F.col(score_col).cast("double") * 1_000_000 + F.lit(0.5)).cast("long")
    binned = df.select(
        F.least(F.floor(q6 * n_bins / 1_000_000), F.lit(n_bins - 1))
        .cast("int")
        .alias("bin"),
        q6.alias("_q6"),
        lab.alias("_y"),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_y").alias("n_pos"),
        F.sum("_q6").alias("_sq6"),
    )
    tot = per.agg(F.sum("n").alias("_N"))
    mean_score = F.col("_sq6").cast("double") / F.col("n").cast("double") / 1_000_000.0
    pos_rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            pround6(mean_score).alias("mean_score"),
            pround6(pos_rate).alias("pos_rate"),
            pround6(
                (F.col("n").cast("double") / F.col("_N").cast("double"))
                * F.abs(mean_score - pos_rate)
            ).alias("ece_term"),
        )
    )


def brier_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Brier score per group: mean squared error of the probability
    forecast, ``mean((q − y)²)``. Per-row squared errors compute on the
    round-6 score lattice in exact int64 millionths-squared (error² ≤
    1e12 · n rows — DECIMAL(38,0) sums, the grouped_ols discipline), so
    the partition-order float-sum hazard never arises; one double
    division at the end."""
    g = list(group_cols or [])
    lab = F.col(label_col).cast("int")
    q6 = F.floor(F.col(score_col).cast("double") * 1_000_000 + F.lit(0.5)).cast("long")
    err = q6 - lab * 1_000_000
    per = df.select(*g, (err * err).cast("decimal(38,0)").alias("_e2")).groupBy(*g).agg(
        F.count("*").alias("n"), F.sum("_e2").alias("_se2")
    )
    return per.select(
        *g,
        "n",
        pround6(
            F.col("_se2").cast("double") / F.col("n").cast("double") / 1e12
        ).alias("brier"),
    )


def stratified_kfold(
    df: DataFrame,
    strata_cols: list[str],
    order_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Deterministic stratified k-fold assignment: within each stratum,
    rows rank by ``order_cols`` (must be a total order) and fold =
    (rank − 1) mod k — every fold gets ⌈n_h/k⌉ or ⌊n_h/k⌋ rows of each
    stratum (the class-balance guarantee plain modulo-on-id lacks).
    Zero RNG: the same input always folds identically on any engine."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    w = Window.partitionBy(*strata_cols).orderBy(*order_cols)
    return df.withColumn(
        "fold", ((F.row_number().over(w) - 1) % k).cast("int")
    )


def retrieval_rank_metrics(
    ranked: DataFrame,
    qrels: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Graded retrieval evaluation: nDCG@k + MRR per query (round-11;
    Järvelin & Kekäläinen 2002 for DCG, the standard IR formulation).

    ``ranked``: (query_id, ``id_col``, rank) — the output shape of every
    retrieval operator in this engine (BM25/PRF/hybrid/ANN top-k).
    ``qrels``: (query_id, ``id_col``, grade) integer relevance grades
    ≥ 1 (absent pairs are grade 0 — the standard sparse-qrels
    convention).

        DCG@k  = Σ_{r≤k} (2^grade − 1) / log2(r + 1)
        nDCG@k = DCG@k / IDCG@k   (0 when the query has no relevant doc)
        MRR    = 1 / first rank with grade > 0   (0 when none in top-k)

    Cross-engine exactness: each position's discounted gain is round-6'd
    to DECIMAL(12,6) BEFORE the per-query sum (exact decimal addition —
    partition-order independent; log2/pow last-ulp divergence absorbed
    by the round), and the final nDCG ratio is round-6'd as double —
    the BM25-idf discipline applied to evaluation.

    Scale shape: one broadcast-friendly join of the candidate-bounded
    ``ranked`` (queries × k rows) against qrels on (query_id, id),
    plus ONE window over qrels partitioned by query for the ideal
    ordering (ties broken by ``id_col`` so IDCG is deterministic) —
    qrels are relevance-judgment-sized, never corpus-sized. Nothing
    here touches the corpus.

    Output: (query_id, mrr, ndcg) — one row per query present in
    ``ranked``."""
    gain = lambda grade_col, rank_col: pround6(
        (F.pow(F.lit(2.0), grade_col) - F.lit(1.0))
        / F.log2(rank_col.cast("double") + F.lit(1.0))
    )
    # qrels feed TWO branches (the got join and the ideal ordering) and
    # are often corpus-DERIVED even though they are judgment-sized;
    # materialize once so neither branch recomputes the derivation
    # (plan-audit finding r11: without this the metrics plan re-scanned
    # the corpus per branch)
    qrels = materialize(qrels)
    got = (
        ranked.filter(F.col("rank") <= k)
        .join(qrels, ["query_id", id_col], "left")
        .withColumn("grade", F.coalesce(F.col("grade"), F.lit(0)))
    )
    dcg = got.groupBy("query_id").agg(
        F.sum(gain(F.col("grade"), F.col("rank"))).alias("_dcg"),
        F.min(F.when(F.col("grade") > 0, F.col("rank"))).alias("_first_rel"),
    )
    wi = Window.partitionBy("query_id").orderBy(F.desc("grade"), F.asc(id_col))
    ideal = (
        qrels.withColumn("_ir", F.row_number().over(wi))
        .filter(F.col("_ir") <= k)
        .groupBy("query_id")
        .agg(F.sum(gain(F.col("grade"), F.col("_ir"))).alias("_idcg"))
    )
    return (
        dcg.join(ideal, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(
                pround6(F.lit(1.0) / F.col("_first_rel").cast("double")).cast("double"),
                F.lit(0.0),
            ).alias("mrr"),
            F.when(
                F.col("_idcg").isNotNull() & (F.col("_idcg") > 0),
                pround6(
                    F.col("_dcg").cast("double") / F.col("_idcg").cast("double")
                ).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg"),
        )
    )
