"""Data selection via importance resampling (DSIR) over hashed n-grams.

The selection step real pretraining-data pipelines run between quality
filtering and packing: given a small TARGET corpus (the distribution you
want — a reference domain, a high-quality subset) and the RAW pool,
estimate per-document importance weights ``log p_target(x) - log
p_raw(x)`` under two bag-of-hashed-n-grams unigram models and resample
the pool with Gumbel-top-k, which draws k documents proportionally to
their importance weights WITHOUT replacement in one distributed pass.
Public semantics: Xie et al., "Data Selection for Language Models via
Importance Resampling" (NeurIPS 2023) — hashed n-gram features +
importance resampling; Gumbel-top-k per Vieira (2014)/Kool et al. (2019).

Engine-exactness (the registry contract): bucket assignment is
md5-derived (13 hex digits mod n_buckets — exact on any engine); each
model's per-bucket log-probability is Laplace-smoothed and portable-
round-6'd into DECIMAL(12,6) the moment the ``ln`` is computed, so the
per-bucket log-ratio ``lam`` is an exact decimal difference; a document's
``logw`` is an exact decimal sum of (bigint tf × decimal lam) terms —
independent of partition/aggregation order on a 1000-executor cluster.
The Gumbel perturbation derives from md5(seed|id) (reproducible), with
``u = (h + 0.5) / 2^52`` strictly inside (0,1) so ``-ln(-ln(u))`` is
always finite; the final key is portable-round-9'd and ties break on the
id, so an engine's last-ulp ``ln`` divergence cannot reorder the top-k
(the established ``weighted_sample`` mitigation).

Scale shape: model fitting is one explode + one n_buckets-sized aggregate
per corpus (map-side partial, tiny reduce); the bucket→lam table is
n_buckets rows, broadcast into the scoring join; scoring is one explode +
one (id, bucket) aggregate + one per-id sum; selection is a
TakeOrderedAndProject (per-partition top-k + driver merge of k rows) —
no global sort, no driver-side model state anywhere.

Not in the reference (no ML/curation tier there).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround, pround6
from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.materialize import materialize

_HEX13_SPAN = float(1 << 52)


def _grams(text_col: Column) -> Column:
    """Hashed-feature gram stream: unigrams + bigrams (space-joined),
    one array per document — the DSIR feature set."""
    ts = tokens(text_col)
    bigrams = F.when(
        F.size(ts) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ts) - F.lit(2)),
            lambda j: F.concat_ws(" ", F.slice(ts, j + F.lit(1), 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(ts, bigrams)


def _bucket(gram_col: Column, n_buckets: int) -> Column:
    h13 = F.conv(F.substring(F.md5(gram_col), 1, 13), 16, 10).cast("long")
    return F.pmod(h13, F.lit(n_buckets)).cast("int")


def _bucket_counts(
    df: DataFrame, text_col: str, n_buckets: int, id_col: str | None = None
) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    keep = [F.col(id_col)] if id_col else []
    keys = ([id_col] if id_col else []) + ["_b"]
    # spread the RAW rows before any tokenize/gram/md5 work: projections
    # don't migrate across the exchange, so computing the gram array
    # before the repartition would leave the heavy step on the small
    # scan's single split
    ex = _spread(df.select(*keep, F.col(text_col)))
    return (
        ex.select(*keep, F.explode(_grams(F.col(text_col))).alias("_g"))
        .select(*(keys[:-1]), _bucket(F.col("_g"), n_buckets).alias("_b"))
        .groupBy(*keys)
        .agg(F.count("*").alias("_c"))
    )


def hashed_ngram_logratio(
    target: DataFrame | None,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 256,
    target_predicate: Column | None = None,
) -> DataFrame:
    """Fit the two hashed-n-gram unigram models and return the per-bucket
    importance log-ratio: ``(bucket, lam)`` with ``lam = r6(ln((c_t+1) /
    (T_t+B))) - r6(ln((c_r+1)/(T_r+B)))`` (Laplace add-one over the B
    buckets; exact DECIMAL difference). All B buckets are present —
    unseen buckets carry the pure smoothing ratio — so scoring needs no
    missing-key handling. B rows: always broadcastable.

    When the target IS a subset of the pool (the usual DSIR setup), pass
    ``target_predicate`` (a row predicate on ``raw``) instead of a
    separate ``target`` frame: both models then fit from ONE tokenize
    pass over the pool via conditional aggregation — at 100 TB that
    halves the model-fitting scan. Values are identical either way."""
    spark = raw.sparkSession
    if target_predicate is not None:
        from data_warehouse_punta_fina_spark.operators.dedup import _spread

        ex = _spread(
            raw.select(
                target_predicate.cast("long").alias("_is_t"), F.col(text_col)
            )
        )
        both = materialize(
            ex.select("_is_t", F.explode(_grams(F.col(text_col))).alias("_g"))
            .select("_is_t", _bucket(F.col("_g"), n_buckets).alias("_b"))
            .groupBy("_b")
            .agg(F.count("*").alias("_c_r"), F.sum("_is_t").alias("_c_t"))
        )
        t = both.select(F.col("_b"), F.col("_c_t").alias("_c")).filter(F.col("_c") > 0)
        r = both.select(F.col("_b"), F.col("_c_r").alias("_c"))
        _require_target_mass(t)
    else:
        if target is None:
            raise ValueError("pass either a target frame or target_predicate")
        # each B-row count table feeds its total AND the bucket join —
        # materialize so each corpus is tokenized exactly once
        t = materialize(_bucket_counts(target, text_col, n_buckets))
        r = materialize(_bucket_counts(raw, text_col, n_buckets))
        _require_target_mass(t)
    t_tot = t.agg(F.sum("_c").alias("_tt"))
    r_tot = r.agg(F.sum("_c").alias("_tr"))
    base = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))

    def _logp(c: Column, tot: Column) -> Column:
        return pround6(
            F.log(
                (F.coalesce(c, F.lit(0)) + F.lit(1)).cast("double")
                / (tot + F.lit(n_buckets)).cast("double")
            )
        )

    return (
        base.join(F.broadcast(t.withColumnRenamed("_b", "bucket")), "bucket", "left")
        .withColumnRenamed("_c", "_ct")
        .join(
            F.broadcast(
                r.withColumnRenamed("_b", "bucket").withColumnRenamed("_c", "_cr")
            ),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            (
                _logp(F.col("_ct"), F.col("_tt"))
                - _logp(F.col("_cr"), F.col("_tr"))
            ).alias("lam"),
        )
    )


def _require_target_mass(t_counts) -> None:
    """An empty target (predicate matching nothing, empty frame, or all-
    empty texts) would make the target total NULL → every lam NULL →
    every logw coalesced to 0 → the 'importance' sample silently degrades
    to uniform Gumbel draws. Fail loudly instead. The probe materializes
    the (checkpointed) count table the fit reuses, so it costs no extra
    corpus scan."""
    if not t_counts.head(1):
        raise ValueError(
            "DSIR target has zero n-gram mass (empty target frame/predicate "
            "or all-empty texts): the importance weights would silently "
            "degrade to uniform sampling. Check the target definition."
        )


def dsir_resample(
    pool: DataFrame,
    logratio: DataFrame,
    k: int,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
) -> DataFrame:
    """Score every pool document under the fitted log-ratio model and
    Gumbel-top-k resample: returns the k selected rows as ``(id_col,
    logw, sample_key)`` — ``logw`` the exact-decimal importance
    log-weight (cast to double at the boundary), ``sample_key = r9(logw +
    gumbel(md5(seed|id)))``. Zero-token documents score ``logw = 0`` and
    still compete (pure Gumbel noise). Ties break on the id.
    ``n_buckets`` MUST match the value ``logratio`` was fitted with."""
    tf = _bucket_counts(pool, text_col, n_buckets, id_col=id_col)
    scored = (
        tf.join(F.broadcast(logratio.withColumnRenamed("bucket", "_b")), "_b")
        .groupBy(id_col)
        .agg(F.sum(F.col("_c") * F.col("lam")).alias("_logw"))
    )
    digits = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit("|"), F.col(id_col).cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    u = (digits.cast("double") + F.lit(0.5)) / F.lit(_HEX13_SPAN)
    gumbel = -F.log(-F.log(u))
    logw_d = F.coalesce(F.col("_logw").cast("double"), F.lit(0.0))
    key = pround(logw_d + gumbel, 9, 18)
    return (
        pool.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            logw_d.alias("logw"),
            key.cast("double").alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )
