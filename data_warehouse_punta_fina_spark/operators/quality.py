"""Post-load data-quality suite (reference SURVEY.md §5.3; `main.py:724-994`).

Each check returns rows (check_name, target, metric, value, passed) so the
suite composes into a single report DataFrame — the engine's equivalent of
the reference's FASE 5 validation log output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.sources.generators import literal_table


def _row(spark: SparkSession, check: str, target: str, metric: str, value: int, passed: bool) -> DataFrame:
    return literal_table(
        spark, [(check, target, metric, int(value), bool(passed))],
        "check string, target string, metric string, value long, passed boolean",
    )


def check_fk_orphans(fact: DataFrame, fact_name: str, fks: dict[str, tuple[DataFrame, str]]) -> DataFrame:
    """FK-orphan anti-join counts for each declared FK (`main.py:798-835`).
    Orphans are counted AFTER default-member fallback, so passing means
    full FK closure."""
    spark = fact.sparkSession
    out = None
    for fk_col, (dim, pk) in fks.items():
        orphans = (
            fact.filter(F.col(fk_col).isNotNull())
            .join(F.broadcast(dim.select(pk).distinct()), fact[fk_col] == dim[pk], "left_anti")
            .count()
        )
        r = _row(spark, "fk_orphans", f"{fact_name}.{fk_col}", "orphans", orphans, orphans == 0)
        out = r if out is None else out.unionByName(r)
    return out


def check_grain_unique(fact: DataFrame, fact_name: str, keys: list[str]) -> DataFrame:
    """Duplicate-grain check (`main.py:838-880`)."""
    dups = fact.groupBy(*keys).count().filter(F.col("count") > 1).count()
    return _row(fact.sparkSession, "grain_unique", fact_name, "dup_groups", dups, dups == 0)


def check_double_entry(journal: DataFrame, monto: str = "monto", tipo: str = "tipo_movimiento") -> DataFrame:
    """Σ débitos == Σ créditos ± 0.01 (`complete_fact_builder.py:973-980`)."""
    spark = journal.sparkSession
    row = journal.agg(
        F.sum(F.when(F.col(tipo) == "DEBITO", F.col(monto)).otherwise(F.lit(0))).alias("d"),
        F.sum(F.when(F.col(tipo) == "CREDITO", F.col(monto)).otherwise(F.lit(0))).alias("c"),
    ).collect()[0]
    diff_cents = int(round(abs(float(row["d"] or 0) - float(row["c"] or 0)) * 100))
    return _row(spark, "double_entry", "journal", "abs_diff_cents", diff_cents, diff_cents <= 1)


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    z: float = 3.5,
) -> DataFrame:
    """Median/MAD outlier flagging (Iglewicz-Hoaglin modified z-score):
    ``score = 0.6745·|x − median| / MAD``, flagged when ``score > z`` —
    the robust alternative to mean/stddev that one fat-tailed 100 TB
    partition can't poison (both statistics have a 50% breakdown point).

    Exactness: medians use Spark's exact ``percentile`` (bit-identical to
    DuckDB ``quantile_cont``, proven by the percentile query family); the
    score is portable-round-6'd BEFORE the threshold compare, so the flag
    never flips across engines on a boundary value. Groups with MAD = 0
    (over half the values identical) flag nothing — score is undefined
    there, and anything ≠ median in such a group surfaces via
    ``is_mad_degenerate`` instead of a fabricated infinite score.

    Shape: two grouped exact-percentile aggregates (each one shuffle of
    (group, value) pairs) + two broadcast-or-hash joins of group-sized
    tables back onto the rows. Returns the input + (score,
    is_outlier, is_mad_degenerate)."""
    from data_warehouse_punta_fina_spark.functions.money import pround

    groups = group_cols or []
    gb = lambda d: d.groupBy(*groups) if groups else d.groupBy()  # noqa: E731
    med = gb(df).agg(F.percentile(F.col(value_col), F.lit(0.5)).alias("_med"))
    with_med = df.join(med, groups) if groups else df.crossJoin(F.broadcast(med))
    dev = with_med.withColumn("_absdev", F.abs(F.col(value_col) - F.col("_med")))
    mad = gb(dev).agg(F.percentile(F.col("_absdev"), F.lit(0.5)).alias("_mad"))
    scored = (
        (dev.join(mad, groups) if groups else dev.crossJoin(F.broadcast(mad)))
        .withColumn(
            "score",
            F.when(
                F.col("_mad") > 0,
                pround(
                    F.lit(0.6745) * F.col("_absdev") / F.col("_mad"), 6, 15
                ).cast("double"),
            ),
        )
        .withColumn(
            "is_outlier",
            F.when(F.col("_mad") > 0, F.col("score") > F.lit(z)).otherwise(
                F.lit(False)
            ),
        )
        .withColumn("is_mad_degenerate", F.col("_mad") == 0)
    )
    return scored.drop("_med", "_absdev", "_mad")


def psi_report(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    snapshot of a numeric column — the standard production drift monitor
    (scorecard-era credit-risk metric, now the default data-drift check
    in ML feature pipelines):

        PSI = Σ_bins (p_cur − p_base) · ln(p_cur / p_base)

    with bin edges at the BASELINE's ``n_bins``-quantile cut points, so a
    stable distribution scores ≈0 regardless of volume change; rule of
    thumb: <0.1 stable, 0.1-0.25 shifting, >0.25 drifted.

    Output: one row per bin — (bin, lo, hi, n_base, n_cur, p_base,
    p_cur, psi_term) with open-ended first/last bins (lo/hi NULL) — the
    total PSI is the sum of psi_term; keeping the per-bin terms is what
    makes the report actionable (WHICH part of the distribution moved).

    Scale shape: one exact-percentile aggregate over the baseline (the
    cut-point row broadcasts), then one map-side-combined count per side
    keyed by bin id — at 100 TB both sides are a word-count-shaped
    shuffle of ≤ n_bins keys after partial aggregation. Binning uses an
    array HOF over the n_bins−1 cut points (interpreted, but per-row cost
    is ~n_bins comparisons — negligible next to the scan).

    Cross-engine exactness: Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` bit-for-bit (shared (n−1)·p interpolation, proven
    by events_value_percentiles); proportions are IEEE divisions in a
    fixed order and the psi_term is round-6'd after the ln. ``eps``
    floors both proportions so an empty bin contributes a large-but-
    finite term instead of ±inf (standard PSI practice). Null values are
    excluded on both sides (they never enter the quantiles either).
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    probs = ", ".join(f"{(i + 1) / n_bins}" for i in range(n_bins - 1))
    # the 1-row cut-point aggregate feeds both binning branches AND the
    # bin spine — materialize it so the baseline is scanned once for the
    # quantiles, not once per consumer (plan-audited: 10 source scans
    # before, 3 after — the quantile pass + one binning pass per side,
    # the structural minimum for quantile-then-bin)
    cuts = materialize(
        base.filter(F.col(value_col).isNotNull())
        .agg(F.expr(f"percentile({value_col}, array({probs}))").alias("_cuts"))
    )

    def binned(df: DataFrame, out: str) -> DataFrame:
        v = F.col(value_col)
        return (
            df.filter(v.isNotNull())
            .crossJoin(F.broadcast(cuts))
            .select(
                (
                    F.size(F.filter(F.col("_cuts"), lambda c: v > c)) + F.lit(1)
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias(out))
        )

    # each side's bin-count table is consumed twice (join + its total) —
    # they are <= n_bins rows; materialize so each side scans once
    nb = materialize(binned(base, "n_base"))
    nc = materialize(binned(cur, "n_cur"))
    # bin spine 1..n_bins so empty bins on either side still report
    spine = (
        cuts.select(F.posexplode(F.concat(F.array(F.lit(None).cast("double")), F.col("_cuts"))))
        .select((F.col("pos") + 1).alias("bin"), F.col("col").alias("lo"))
        .crossJoin(F.broadcast(cuts))
        # try_element_at: index n_bins is past the cut array (open-ended
        # last bin) and must yield NULL, not an ANSI index error
        .withColumn("hi", F.try_element_at(F.col("_cuts"), F.col("bin").cast("int")))
        .drop("_cuts")
    )
    tb = F.col("_tb").cast("double")
    tc = F.col("_tc").cast("double")
    p_base = F.greatest(F.col("n_base").cast("double") / tb, F.lit(eps))
    p_cur = F.greatest(F.col("n_cur").cast("double") / tc, F.lit(eps))
    return (
        spine.join(nb, "bin", "left")
        .join(nc, "bin", "left")
        .na.fill({"n_base": 0, "n_cur": 0})
        .crossJoin(
            F.broadcast(
                nb.agg(F.sum("n_base").alias("_tb")).crossJoin(nc.agg(F.sum("n_cur").alias("_tc")))
            )
        )
        .select(
            "bin",
            "lo",
            "hi",
            "n_base",
            "n_cur",
            pround(p_base, 6, 12).alias("p_base"),
            pround(p_cur, 6, 12).alias("p_cur"),
            pround((p_cur - p_base) * F.log(p_cur / p_base), 6, 12).alias("psi_term"),
        )
    )


def schema_diff(before, after) -> list[dict]:
    """Column-level diff of two schemas (DataFrames or StructTypes) —
    the metadata half of drift monitoring (psi_report watches values;
    this watches shape). Pure driver-side metadata work, no scan.

    Returns a list of {column, change, from_type, to_type} dicts with
    change ∈ {added, removed, type_changed, nullability_changed} —
    empty means identical shapes. Used by the transaction log's schema
    enforcement to print WHAT changed instead of a bare refusal."""
    from pyspark.sql import DataFrame as _DF

    sa = before.schema if isinstance(before, _DF) else before
    sb = after.schema if isinstance(after, _DF) else after
    fa = {f.name: f for f in sa.fields}
    fb = {f.name: f for f in sb.fields}
    out: list[dict] = []
    for name in fa:
        if name not in fb:
            out.append(
                {"column": name, "change": "removed",
                 "from_type": fa[name].dataType.simpleString(), "to_type": None}
            )
        elif fa[name].dataType != fb[name].dataType:
            out.append(
                {"column": name, "change": "type_changed",
                 "from_type": fa[name].dataType.simpleString(),
                 "to_type": fb[name].dataType.simpleString()}
            )
        elif fa[name].nullable != fb[name].nullable:
            out.append(
                {"column": name, "change": "nullability_changed",
                 "from_type": str(fa[name].nullable), "to_type": str(fb[name].nullable)}
            )
    for name in fb:
        if name not in fa:
            out.append(
                {"column": name, "change": "added",
                 "from_type": None, "to_type": fb[name].dataType.simpleString()}
            )
    return out


def psi_report_categorical(
    base: DataFrame,
    cur: DataFrame,
    col: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Categorical PSI — :func:`psi_report`'s counterpart for discrete
    columns (event types, sources, languages, labels): bins are the
    UNION of categories observed on either side (a category present only
    in one side is exactly the drift signal, floored at ``eps`` instead
    of ±inf), same ``(p_cur − p_base)·ln(p_cur/p_base)`` per-category
    terms, total PSI = the sum.

    Output: (category, n_base, n_cur, p_base, p_cur, psi_term), one row
    per category; NULLs are excluded (monitor them with a not-null check,
    not a distribution metric). Shape: one map-side-combined count per
    side, a category-spine full-outer union, totals from the tiny count
    tables — the sources are scanned once each.
    """
    from data_warehouse_punta_fina_spark.functions.money import pround

    nb = materialize(
        base.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count("*").alias("n_base"))
    )
    nc = materialize(
        cur.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("category"))
        .agg(F.count("*").alias("n_cur"))
    )
    spine = nb.select("category").unionByName(nc.select("category")).distinct()
    p_base = F.greatest(F.col("n_base").cast("double") / F.col("_tb").cast("double"), F.lit(eps))
    p_cur = F.greatest(F.col("n_cur").cast("double") / F.col("_tc").cast("double"), F.lit(eps))
    return (
        spine.join(nb, "category", "left")
        .join(nc, "category", "left")
        .na.fill({"n_base": 0, "n_cur": 0})
        .crossJoin(
            F.broadcast(
                nb.agg(F.coalesce(F.sum("n_base"), F.lit(0)).alias("_tb")).crossJoin(
                    nc.agg(F.coalesce(F.sum("n_cur"), F.lit(0)).alias("_tc"))
                )
            )
        )
        .select(
            "category",
            "n_base",
            "n_cur",
            pround(p_base, 6, 12).alias("p_base"),
            pround(p_cur, 6, 12).alias("p_cur"),
            pround((p_cur - p_base) * F.log(p_cur / p_base), 6, 12).alias("psi_term"),
        )
    )


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Inner join on ``keys`` that matches NULL to NULL; one copy of each
    key column is kept (the left one)."""
    right = right.select(
        *[F.col(k).alias(f"_rk_{k}") for k in keys],
        *[c for c in right.columns if c not in keys],
    )
    cond = [F.col(k).eqNullSafe(F.col(f"_rk_{k}")) for k in keys]
    return left.join(right, cond).drop(*[f"_rk_{k}" for k in keys])


def fd_violations(
    df: DataFrame,
    determinants: list[str],
    dependents: list[str],
) -> DataFrame:
    """Functional-dependency audit: rows where ``determinants`` →
    ``dependents`` is VIOLATED — the same determinant value maps to
    more than one distinct dependent tuple (the integrity premise
    behind every grain declaration; `check_grain_unique` only counts
    duplicate keys, this explains WHICH keys disagree and how).

    Output per violating determinant value: ``n_rows``, ``n_variants``
    (distinct dependent tuples), and the lexicographically first/last
    variant rendered as strings for inspection. Dependent tuples compare
    as concatenated strings with a NUL separator (NULL → the literal
    '<null>'), so the distinct-count never builds a struct shuffle.

    Shape (round-16, guide §2.3/§1.2): the r15 form put ``min/max`` of
    the rendered STRING in the big aggregation — string min/max has no
    mutable fixed-width buffer, so Spark planned the WHOLE table through
    SortAggregate (a full sort with the rendered tuple in the sort key,
    on both sides of the exchange — the dominant cost in the profile).
    Violations are by definition the rare slice, so now:

    1. counts run as pure HASH aggregation — level 1 groups by
       (determinants, rendered) (strings are fine as *keys*; no Expand,
       no sort anywhere), level 2 reduces to per-key ``n_rows`` /
       ``n_variants`` and keeps only violators;
    2. the first/last variant strings are fetched by re-joining the
       violator-only keys against the level-1 groups — the string
       min/max SortAggregate now runs over the violating slice of rows
       instead of the full table. The join is not forced to broadcast:
       when most keys violate, the planner falls back to a shuffle join.

    Both re-joins are null-safe, so a NULL determinant is one group that
    is reported like any other (GROUP BY semantics), never dropped.

    Same rows, same values: level-1/level-2 counts are exactly the old
    ``count(*)`` / ``count_distinct``; min/max over a violating key's
    distinct rendered values equal min/max over its raw rows.
    """
    rendered = F.concat_ws(
        "\x00", *[F.coalesce(F.col(c).cast("string"), F.lit("<null>")) for c in dependents]
    )
    det = [F.col(c) for c in determinants]
    groups = materialize(  # two consumers: counts + variant fetch
        df.groupBy(*det, rendered.alias("_r")).agg(F.count("*").alias("_n"))
    )
    per = (
        groups.groupBy(*det)
        .agg(F.sum("_n").alias("n_rows"), F.count("*").alias("n_variants"))
        .filter(F.col("n_variants") > 1)
    )
    variants = (
        _join_null_safe(groups, per.select(*determinants), determinants)
        .groupBy(*det)
        .agg(F.min("_r").alias("first_variant"), F.max("_r").alias("last_variant"))
    )
    return _join_null_safe(per, variants, determinants).select(
        *determinants,
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_variants").cast("long").alias("n_variants"),
        F.regexp_replace("first_variant", "\x00", " | ").alias("first_variant"),
        F.regexp_replace("last_variant", "\x00", " | ").alias("last_variant"),
    )
