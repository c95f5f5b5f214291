"""Closed-form grouped statistics (OLS trend fits, chi-squared screens).

The reference warehouse stops at sums/averages (`main.py` report
queries); production analytics over the same star schemas routinely need
per-group TREND estimates ("is price drifting with quantity per brand?")
and categorical INDEPENDENCE screens ("did the event-type mix shift by
daypart?"). Both have exact closed forms over sufficient statistics —
which is precisely what makes them scale: one map-side-combined
aggregate per group, no iteration, no driver data.

Determinism discipline (the repo-wide rule): every sufficient statistic
is an EXACT sum — inputs are quantized to int64 at a caller-chosen scale
and summed as integers/decimals, so partial-aggregation order cannot
perturb them; the handful of closing ops (slope/intercept/chi² terms)
are fixed-order IEEE doubles on those exact sums, then portable
round-6 — bit-identical on any engine or cluster layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.operators.materialize import materialize


def _quant(col: str, scale: int):
    """Half-up int64 quantization at 10^scale — the vectors.py trick:
    integer sums are exact under any partitioning."""
    return F.floor(F.col(col) * F.lit(float(10**scale)) + F.lit(0.5)).cast("long")


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    x_scale: int = 3,
    y_scale: int = 2,
) -> DataFrame:
    """Per-group simple linear regression ``y ≈ slope·x + intercept`` via
    the closed-form normal equations, plus ``r2`` — one aggregate, no
    iteration (scikit-style fit loops don't distribute; sufficient
    statistics do).

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)   (symmetric form —
    no dependence on the already-rounded slope)
    r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))

    Groups with a degenerate x (all equal: denominator 0) report NULL
    slope/intercept/r²; r² is also NULL when y is constant.

    Exactness: x and y quantize to int64 at ``x_scale``/``y_scale``
    decimals; Σx/Σy are int64 sums, the three product sums accumulate as
    DECIMAL(38,0) (a 600M-row lineitem at sf100 overflows int64 on Σxy —
    the decimal cast is the 100 TB posture, not pedantry). The closing
    divisions are fixed-order IEEE on the unscaled doubles, round-6'd.

    Scale shape: ONE map-side-combined groupBy — sufficient statistics
    are 6 fixed-width numbers per group regardless of group size; skewed
    groups are ordinary aggregate skew (AQE splits them).
    """
    xq = _quant(x_col, x_scale)
    yq = _quant(y_col, y_scale)
    agg = df.select(
        *[F.col(c) for c in group_cols],
        xq.alias("_xq"),
        yq.alias("_yq"),
    ).groupBy(*group_cols).agg(
        F.count("*").alias("_n"),
        F.sum("_xq").alias("_sx"),
        F.sum("_yq").alias("_sy"),
        F.sum(F.col("_xq").cast("decimal(38,0)") * F.col("_yq")).alias("_sxy"),
        F.sum(F.col("_xq").cast("decimal(38,0)") * F.col("_xq")).alias("_sxx"),
        F.sum(F.col("_yq").cast("decimal(38,0)") * F.col("_yq")).alias("_syy"),
    )
    fx = float(10**x_scale)
    fy = float(10**y_scale)
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double") / F.lit(fx)
    sy = F.col("_sy").cast("double") / F.lit(fy)
    sxy = F.col("_sxy").cast("double") / F.lit(fx * fy)
    sxx = F.col("_sxx").cast("double") / F.lit(fx * fx)
    syy = F.col("_syy").cast("double") / F.lit(fy * fy)
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    return agg.select(
        *[F.col(c) for c in group_cols],
        F.col("_n").alias("n"),
        F.when(var_x != 0, r6(cov_n / var_x)).alias("slope"),
        F.when(var_x != 0, r6((sy * sxx - sx * sxy) / var_x)).alias("intercept"),
        F.when((var_x != 0) & (var_y != 0), r6((cov_n * cov_n) / (var_x * var_y))).alias("r2"),
    )


def grouped_ols_oracle_sql(
    source_sql: str,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    x_scale: int = 3,
    y_scale: int = 2,
) -> str:
    """DuckDB twin of :func:`grouped_ols` — generated from the same
    parameters so the two formulations cannot drift. The oracle computes
    products in BIGINT (exact at oracle scale factors; the Spark side
    carries the decimal(38,0) posture for 100 TB)."""
    g = ", ".join(group_cols)
    fx, fy = float(10**x_scale), float(10**y_scale)

    def r6(e: str) -> str:
        return f"CAST(CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)"

    return f"""
WITH q AS (
  SELECT {g},
         CAST(FLOOR({x_col} * {fx} + 0.5) AS BIGINT) AS xq,
         CAST(FLOOR({y_col} * {fy} + 0.5) AS BIGINT) AS yq
  FROM ({source_sql}) src
),
agg AS (
  SELECT {g}, COUNT(*) AS _n,
         SUM(xq) AS _sx, SUM(yq) AS _sy,
         SUM(CAST(xq AS DECIMAL(38,0)) * yq) AS _sxy,
         SUM(CAST(xq AS DECIMAL(38,0)) * xq) AS _sxx,
         SUM(CAST(yq AS DECIMAL(38,0)) * yq) AS _syy
  FROM q GROUP BY {g}
),
c AS (
  SELECT {g}, _n,
         CAST(_n AS DOUBLE) AS n,
         CAST(_sx AS DOUBLE) / {fx} AS sx,
         CAST(_sy AS DOUBLE) / {fy} AS sy,
         CAST(_sxy AS DOUBLE) / {fx * fy} AS sxy,
         CAST(_sxx AS DOUBLE) / {fx * fx} AS sxx,
         CAST(_syy AS DOUBLE) / {fy * fy} AS syy
  FROM agg
)
SELECT {g}, _n AS n,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN {r6('(n * sxy - sx * sy) / (n * sxx - sx * sx)')} END AS slope,
       CASE WHEN n * sxx - sx * sx <> 0
            THEN {r6('(sy * sxx - sx * sxy) / (n * sxx - sx * sx)')} END AS intercept,
       CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
            THEN {r6('((n * sxy - sx * sy) * (n * sxy - sx * sy)) / ((n * sxx - sx * sx) * (n * syy - sy * sy))')}
       END AS r2
FROM c
"""


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-squared independence screen between two categorical columns —
    the hypothesis-test companion to the PSI drift monitor
    (``quality.psi_report_categorical`` measures distribution SHIFT over
    time; this tests ASSOCIATION between two dimensions of one snapshot,
    e.g. event type × daypart).

    One row per observed (a, b) cell:

        (a, b, observed, expected, chi2_term)

    where ``expected = row_total·col_total/N`` and ``chi2_term =
    (observed − expected)²/expected``. ``SUM(chi2_term)`` is the χ²
    statistic with dof = (|A|−1)(|B|−1); emitting the per-cell table
    (rather than one opaque scalar) is deliberate — the cells with the
    largest terms ARE the drill-down ("checkout events collapsed after
    midnight"), and every value stays exactly reproducible.

    Only OBSERVED cells are emitted: a structurally-zero cell contributes
    ``expected`` to χ² with no observation — consumers testing sparse
    contingency tables should add ``Σ expected over missing cells``
    (= N − Σ expected over emitted cells, exact by construction) or
    prefer the PSI monitor, which spines the category union.

    Exactness: counts are integers; expected/term are fixed-order IEEE
    on those integers, round-6'd per cell — so even the SUM over round-6
    decimals would be exact. Shape: one (a,b) count with map-side
    combine, two marginal re-aggregations of the cell table (tiny),
    broadcast back — the input shuffles once.
    """
    cells = materialize(
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b")).agg(
            F.count("*").alias("observed")
        )
    )
    ra = cells.groupBy("a").agg(F.sum("observed").alias("_ra"))
    cb = cells.groupBy("b").agg(F.sum("observed").alias("_cb"))
    tot = cells.agg(F.sum("observed").alias("_n"))
    expected = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_n").cast("double")
    )
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    scored = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected", r6(expected))
    )
    o = F.col("observed").cast("double")
    return scored.select(
        "a",
        "b",
        "observed",
        "expected",
        r6((o - F.col("expected")) * (o - F.col("expected")) / F.col("expected")).alias(
            "chi2_term"
        ),
    )


def quantile_cuts_fit(df: DataFrame, col: str, n_buckets: int) -> DataFrame:
    """FIT half of an exact quantile discretizer (feature binning for ML
    prep — Spark MLlib's QuantileDiscretizer, but exact and re-usable as
    a persisted artifact): one row of ``n_buckets − 1`` cut points
    ``cut_1..cut_{n-1}`` at the i/n percentiles of ``col``.

    Exact ``percentile`` (bit-identical to DuckDB ``quantile_cont``), one
    aggregate pass. The output is the *model*: persist it and
    :func:`bucketize_with_cuts` applies the SAME cuts to any later batch
    or stream — the fit/transform split that makes binning stable across
    retraining data refreshes (re-fitting per batch silently shifts
    feature semantics)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    return df.agg(
        *[
            F.percentile(F.col(col), F.lit(q)).alias(f"cut_{i+1}")
            for i, q in enumerate(qs)
        ]
    )


def bucketize_with_cuts(
    df: DataFrame, cuts: DataFrame, col: str, out: str = "bucket"
) -> DataFrame:
    """TRANSFORM half: assign each row the 1-based bucket of ``col``
    under a fitted cut row — ``bucket = 1 + Σ_i (x > cut_i)`` (values
    exactly on a cut go to the LOWER bucket; NULL stays NULL). The cut
    row broadcasts; the data never shuffles — binning is a pure map at
    any scale."""
    cut_cols = [c for c in cuts.columns if c.startswith("cut_")]
    x = F.col(col)
    expr = F.lit(1)
    for c in sorted(cut_cols, key=lambda s: int(s.split("_")[1])):
        expr = expr + (x > F.col(c)).cast("int")
    return df.crossJoin(F.broadcast(cuts)).select(
        *df.columns, F.when(x.isNotNull(), expr).alias(out)
    )


def grouped_corr_matrix(
    df: DataFrame,
    group_cols: list[str],
    measures: list[str],
    scale: int = 3,
) -> DataFrame:
    """Pairwise Pearson correlations among ``measures`` per group — the
    multi-measure generalization of :func:`grouped_ols` (one aggregate of
    sufficient statistics; no iteration, no per-pair passes).

    One row per group × unordered measure pair (i < j):

        (group_cols..., m_a, m_b, n, corr)

    ``corr`` is NULL when either measure is constant in the group.
    Exactness: every measure quantizes to int64 at ``scale`` decimals;
    all Σx, Σx², Σxy accumulate exactly (decimal(38,0) products — the
    sf100 posture); the closing corr is fixed-order IEEE + round-6.

    Scale shape: ONE map-side-combined groupBy computing d + d(d+1)/2
    fixed-width sums (d = |measures|) — 100 TB collapses to |groups|
    rows; the pair explosion happens on the aggregated rows only.
    """
    d = len(measures)
    qs = [_quant(m, scale).alias(f"_q{i}") for i, m in enumerate(measures)]
    aggs = [F.count("*").alias("_n")]
    for i in range(d):
        aggs.append(F.sum(f"_q{i}").alias(f"_s{i}"))
        for j in range(i, d):
            aggs.append(
                F.sum(F.col(f"_q{i}").cast("decimal(38,0)") * F.col(f"_q{j}")).alias(
                    f"_p{i}_{j}"
                )
            )
    agg = df.select(*[F.col(c) for c in group_cols], *qs).groupBy(*group_cols).agg(*aggs)
    f = float(10**scale)
    n = F.col("_n").cast("double")
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731

    def s(i):
        return F.col(f"_s{i}").cast("double") / F.lit(f)

    def p(i, j):
        return F.col(f"_p{i}_{j}").cast("double") / F.lit(f * f)

    rows = []
    for i in range(d):
        for j in range(i + 1, d):
            cov_n = n * p(i, j) - s(i) * s(j)
            var_i = n * p(i, i) - s(i) * s(i)
            var_j = n * p(j, j) - s(j) * s(j)
            rows.append(
                agg.select(
                    *[F.col(c) for c in group_cols],
                    F.lit(measures[i]).alias("m_a"),
                    F.lit(measures[j]).alias("m_b"),
                    F.col("_n").alias("n"),
                    F.when(
                        (var_i != 0) & (var_j != 0),
                        r6(cov_n / F.sqrt(var_i * var_j)),
                    ).alias("corr"),
                )
            )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def grouped_corr_oracle_sql(
    source_sql: str,
    group_cols: list[str],
    measures: list[str],
    scale: int = 3,
) -> str:
    """DuckDB twin of :func:`grouped_corr_matrix`, generated from the
    same measures/scale (BIGINT products at oracle scale factors)."""
    g = ", ".join(group_cols)
    f = float(10**scale)
    d = len(measures)
    qcols = ", ".join(
        f"CAST(FLOOR({m} * {f} + 0.5) AS BIGINT) AS q{i}" for i, m in enumerate(measures)
    )
    sums = ["COUNT(*) AS _n"]
    for i in range(d):
        sums.append(f"SUM(q{i}) AS s{i}")
        for j in range(i, d):
            sums.append(f"SUM(CAST(q{i} AS DECIMAL(38,0)) * q{j}) AS p{i}_{j}")

    def r6(e):
        return f"CAST(CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(18,6)) AS DOUBLE)"

    selects = []
    for i in range(d):
        for j in range(i + 1, d):
            sn, si, sj = "CAST(_n AS DOUBLE)", f"(CAST(s{i} AS DOUBLE) / {f})", f"(CAST(s{j} AS DOUBLE) / {f})"
            pij = f"(CAST(p{i}_{j} AS DOUBLE) / {f * f})"
            pii = f"(CAST(p{i}_{i} AS DOUBLE) / {f * f})"
            pjj = f"(CAST(p{j}_{j} AS DOUBLE) / {f * f})"
            cov = f"({sn} * {pij} - {si} * {sj})"
            vi = f"({sn} * {pii} - {si} * {si})"
            vj = f"({sn} * {pjj} - {sj} * {sj})"
            selects.append(
                f"""SELECT {g}, '{measures[i]}' AS m_a, '{measures[j]}' AS m_b, _n AS n,
       CASE WHEN {vi} <> 0 AND {vj} <> 0 THEN {r6(f"{cov} / sqrt({vi} * {vj})")} END AS corr
FROM agg"""
            )
    union = "\nUNION ALL\n".join(selects)
    return f"""
WITH q AS (SELECT {g}, {qcols} FROM ({source_sql}) src),
agg AS (SELECT {g}, {', '.join(sums)} FROM q GROUP BY {g})
{union}
"""


def ks_grid_drift(
    df: DataFrame,
    value_col: str,
    side_col: str,
    baseline: str,
    grid: DataFrame,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift evaluated on an explicit CUT
    GRID — the numeric companion to the categorical PSI monitor
    (``quality.psi_report_categorical``): compare the empirical CDFs of a
    numeric column between a baseline slice and everything else, at each
    grid point.

    The exact KS statistic needs the supremum over ALL observed values —
    a data-sized global ordering (the one window shape this repo bans at
    scale). Evaluating both CDFs on a FIXED grid bounds the error by the
    grid's mesh (max CDF mass between adjacent cuts) and keeps the
    computation one scan: compose with :func:`quantile_cuts_fit` on the
    baseline so the grid is the baseline's quantiles — then each gap
    holds ~1/n_buckets of baseline mass, so grid-KS ≥ exact-KS −
    1/n_buckets, a calibrated resolution knob, not a silent heuristic.

    ``grid`` is a 1-row DataFrame of ``cut_*`` columns (exactly
    :func:`quantile_cuts_fit`'s output, or any literal row). One row per
    cut: (j, cut, n_base, n_cur, f_base, f_cur, ks_term) with
    ``ks_term = |f_base − f_cur|``; ``MAX(ks_term)`` is the statistic.

    Shape: the grid row broadcasts; counts are ONE conditional aggregate
    over the scan (2·|grid| exact integer sums + 2 totals — no
    data×grid row blow-up, no shuffle beyond the 1-row agg); CDFs are
    single divisions on exact ints, round-6.
    """
    cut_cols = sorted(
        (c for c in grid.columns if c.startswith("cut_")),
        key=lambda s: int(s.split("_")[1]),
    )
    is_base = F.col(side_col) == F.lit(baseline)
    x = F.col(value_col)
    with_grid = df.select(x.alias("_x"), is_base.alias("_b")).crossJoin(F.broadcast(grid))
    aggs = [
        F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_nb"),
        F.sum(F.when(~F.col("_b"), 1).otherwise(0)).alias("_nc"),
    ]
    for j, c in enumerate(cut_cols, start=1):
        below = F.col("_x") <= F.col(c)
        aggs += [
            F.sum(F.when(F.col("_b") & below, 1).otherwise(0)).alias(f"_cb{j}"),
            F.sum(F.when((~F.col("_b")) & below, 1).otherwise(0)).alias(f"_cc{j}"),
            F.first(F.col(c)).alias(f"_g{j}"),
        ]
    one = with_grid.agg(*aggs)
    per_cut = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.col(f"_g{j}").cast("double").alias("cut"),
                        F.col("_nb").alias("n_base"),
                        F.col("_nc").alias("n_cur"),
                        F.col(f"_cb{j}").alias("_cb"),
                        F.col(f"_cc{j}").alias("_cc"),
                    )
                    for j in range(1, len(cut_cols) + 1)
                ]
            )
        ).alias("s")
    ).select("s.*")
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    fb = F.col("_cb").cast("double") / F.col("n_base").cast("double")
    fc = F.col("_cc").cast("double") / F.col("n_cur").cast("double")
    return per_cut.select(
        F.col("j").cast("int").alias("j"),
        "cut",
        "n_base",
        "n_cur",
        r6(fb).alias("f_base"),
        r6(fc).alias("f_cur"),
        r6(F.abs(fb - fc)).alias("ks_term"),
    )


def group_concentration(
    df: DataFrame,
    group_cols: list[str],
    unit_col: str,
    value_col: str,
    value_scale: int = 2,
) -> DataFrame:
    """Per-group concentration profile of ``value_col`` across units —
    Gini coefficient plus the top-unit share (e.g. "how concentrated is
    revenue across customers within each nation?"). The inequality lens
    a curation pipeline points at corpus composition too (token share
    across sources/domains).

    Gini from the sorted-rank identity: with unit totals x_1≤…≤x_n
    (ranked ascending), G = (2·Σ i·x_i)/(n·Σ x_i) − (n+1)/n — one
    window pass per group, no pairwise |x_i − x_j| join. Ties on the
    total are rank-assignment INVARIANT (two tied units contribute
    t·(r + r+1) either way), and the (total, unit) ordering is total, so
    the value is deterministic regardless.

    Exactness: unit totals are quantized int64 sums (scale
    ``value_scale``); Σ i·x_i and Σ x_i are exact int64; the closing
    formula is fixed-order IEEE on those ints, round-6. Windows
    partition by GROUP (group-sized, never global). Output: one row per
    group — (group…, n_units, total, gini, top_share).
    """
    from pyspark.sql import Window

    totals = df.groupBy(*group_cols, F.col(unit_col).alias("_unit")).agg(
        F.sum(_quant(value_col, value_scale)).alias("_x")
    )
    w = Window.partitionBy(*group_cols).orderBy(F.asc("_x"), F.asc("_unit"))
    ranked = totals.withColumn("_i", F.row_number().over(w))
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    agg = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("n_units"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_i").cast("long") * F.col("_x")).alias("_six"),
        F.max("_x").alias("_xmax"),
    )
    n = F.col("n_units").cast("double")
    sx = F.col("_sx").cast("double")
    gini = (F.lit(2.0) * F.col("_six").cast("double")) / (n * sx) - (n + F.lit(1.0)) / n
    return agg.select(
        *group_cols,
        "n_units",
        r6(sx / F.lit(float(10**value_scale))).alias("total"),
        r6(gini).alias("gini"),
        r6(F.col("_xmax").cast("double") / sx).alias("top_share"),
    )


def mutual_information(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Pointwise mutual-information decomposition between two categorical
    columns — the information-theoretic companion to
    :func:`chi2_independence` (same contingency shape, different lens:
    MI measures the strength of association in nats, per cell).

    One row per observed (a, b) cell:

        (a, b, observed, mi_term)   with
        mi_term = (n_ab/N)·ln(N·n_ab/(n_a·n_b))

    so ``SUM(mi_term)`` is the mutual information I(A;B). Structural
    zeros contribute exactly 0 to MI (lim p→0 of p·ln p terms), so
    emitting only observed cells loses nothing — unlike χ², where the
    missing-cell mass is real (see :func:`chi2_independence`'s note).

    Exactness: counts are exact ints; ln is the one engine-library call
    — round-6 immediately absorbs any last-ulp divergence (the BM25 idf
    argument); the term is a second fixed-order product, round-6'd.
    Shape: one (a,b) count with map-side combine + two tiny marginal
    re-aggregations broadcast back.
    """
    cells = materialize(
        df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count("*").alias("observed"))
    )
    ra = cells.groupBy("a").agg(F.sum("observed").alias("_na"))
    cb = cells.groupBy("b").agg(F.sum("observed").alias("_nb"))
    tot = cells.agg(F.sum("observed").alias("_n"))
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    nab = F.col("observed").cast("double")
    n = F.col("_n").cast("double")
    ratio = (n * nab) / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
    return (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lr", r6(F.log(ratio)))
        .select(
            "a",
            "b",
            "observed",
            r6((nab / n) * F.col("_lr")).alias("mi_term"),
        )
    )


def trimmed_mean(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    trim: float = 0.1,
    value_scale: int = 2,
) -> DataFrame:
    """Per-group symmetric trimmed mean: drop the lowest and highest
    ``floor(n·trim)`` values, average the middle exactly (int64-quantized
    sums, one double division, round-6). The robust location estimate
    between the mean (trim=0) and the median (trim→0.5).

    Tie note: the rank that picks which duplicates fall in the trimmed
    tails is ORDER BY value only — tie order is arbitrary, but the
    RETAINED multiset (hence the sum) is tie-invariant, so the result is
    deterministic on any engine/partitioning. Windows partition by
    group; groups are assumed to fit a partition (the quantile/NTILE
    machinery covers the population-scale case).

    Output: (group…, n, n_trimmed_each_side, trimmed_mean).
    """
    from pyspark.sql import Window

    if not 0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(10**value_scale)) + F.lit(0.5)
    ).cast("long")
    base = df.select(*group_cols, q.alias("_q"))
    w = Window.partitionBy(*group_cols).orderBy("_q")
    ranked = base.withColumn("_r", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(Window.partitionBy(*group_cols))
    )
    k = F.floor(F.col("_n") * F.lit(float(trim))).cast("long")
    kept = ranked.filter((F.col("_r") > k) & (F.col("_r") <= F.col("_n") - k))
    scale = F.lit(float(10**value_scale))
    return kept.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.max(k).alias("n_trimmed_each_side"),
        pround(
            F.sum("_q").cast("double") / F.count("*").cast("double") / scale, 6, 18
        )
        .cast("double")
        .alias("trimmed_mean"),
    )


def theil_sen_trend(
    series: DataFrame,
    time_col: str,
    value_col: str,
    series_cols: list[str] | None = None,
    value_scale: int = 2,
) -> DataFrame:
    """Theil–Sen robust trend + Mann–Kendall test per series: the median
    of all pairwise slopes (breakdown point 29%, vs 0% for OLS) with the
    matching median-residual intercept, plus the exact Mann–Kendall S
    statistic (Σ sign(y_j − y_i) over ordered pairs — the standard
    nonparametric monotone-trend test).

    x is the ROW INDEX of the time-ordered series (regular buckets, the
    seasonal_decompose convention). Pairwise slopes are doubles of exact
    int64 quantities ((q_j−q_i)/(j−i)) — identical IEEE values on any
    engine, so value-ordering is engine-portable; tie positions are
    arbitrary but the MEDIAN VALUE of the multiset is tie-invariant
    (the trimmed-mean argument). Medians average the middle one/two
    values; S is exact integer.

    Scale: the O(n²) pair table is built from the AGGREGATED series (n =
    buckets per series, e.g. 344 weeks → 59k pairs), partitioned per
    series — never over raw facts. Output: (series…, n, n_pairs, slope,
    intercept, mk_s).
    """
    from pyspark.sql import Window

    sc = series_cols or []
    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(10**value_scale)) + F.lit(0.5)
    ).cast("long")
    part = sc if sc else [F.pmod(F.xxhash64(F.col("_t")), F.lit(1))]
    wt = Window.partitionBy(*part).orderBy("_t")
    # the ranked series and the pair table each feed 3+ downstream
    # branches (slope median, Mann-Kendall, residual median) — without a
    # materialization the ORIGINAL series scan re-executes once per
    # branch (7 scans observed); both tables are aggregate-sized
    d = materialize(
        series.select(*sc, F.col(time_col).alias("_t"), q.alias("_q"))
        .withColumn("_x", F.row_number().over(wt).cast("long"))
    )
    a = d.select(*sc, F.col("_x").alias("_xa"), F.col("_q").alias("_qa"))
    b = d.select(*sc, F.col("_x").alias("_xb"), F.col("_q").alias("_qb"))
    on = sc if sc else None
    pairs = (a.join(b, on) if on else a.crossJoin(b)).filter(F.col("_xa") < F.col("_xb"))
    slope = (F.col("_qb") - F.col("_qa")).cast("double") / (
        F.col("_xb") - F.col("_xa")
    ).cast("double")
    pairs = materialize(
        pairs.withColumn("_s", slope).withColumn(
            "_sgn",
            F.signum((F.col("_qb") - F.col("_qa")).cast("double")).cast("long"),
        )
    )
    # ungrouped fallback: constant-valued NON-FOLDABLE key (a foldable
    # lit(0) constant-folds to an empty spec — a true global window);
    # anchored per-table on a real column (operators.windows.const_partition)
    from data_warehouse_punta_fina_spark.operators.windows import const_partition

    pp = sc if sc else [const_partition("_s")]
    ws = Window.partitionBy(*pp).orderBy("_s")
    ranked = pairs.withColumn("_r", F.row_number().over(ws)).withColumn(
        "_m", F.count("*").over(Window.partitionBy(*pp))
    )
    med_rows = ranked.filter(
        (F.col("_r") == F.floor((F.col("_m") + 1) / 2))
        | (F.col("_r") == F.floor(F.col("_m") / 2) + 1)
    )
    med = med_rows.groupBy(*sc).agg(
        (F.sum("_s") / F.count("*")).alias("_slope"),
        F.max("_m").alias("n_pairs"),
    )
    mk = pairs.groupBy(*sc).agg(F.sum("_sgn").alias("mk_s"))
    # intercept: median of (q_i − slope·x_i), same median machinery
    resid = (d.join(med, sc) if sc else d.crossJoin(F.broadcast(med))).withColumn(
        "_res", F.col("_q").cast("double") - F.col("_slope") * F.col("_x").cast("double")
    )
    ppr = sc if sc else [const_partition("_res")]
    wr = Window.partitionBy(*ppr).orderBy("_res")
    rr = resid.withColumn("_r", F.row_number().over(wr)).withColumn(
        "_n", F.count("*").over(Window.partitionBy(*ppr))
    )
    imed = rr.filter(
        (F.col("_r") == F.floor((F.col("_n") + 1) / 2))
        | (F.col("_r") == F.floor(F.col("_n") / 2) + 1)
    ).groupBy(*sc).agg(
        (F.sum("_res") / F.count("*")).alias("_icept"), F.max("_n").alias("n")
    )
    scale = F.lit(float(10**value_scale))
    r6 = lambda c: pround(c, 6, 18).cast("double")  # noqa: E731
    base = med.join(mk, sc).join(imed, sc) if sc else med.crossJoin(
        F.broadcast(mk)
    ).crossJoin(F.broadcast(imed))
    return base.select(
        *sc,
        "n",
        "n_pairs",
        r6(F.col("_slope") / scale).alias("slope"),
        r6(F.col("_icept") / scale).alias("intercept"),
        "mk_s",
    )
