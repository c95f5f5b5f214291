"""Distributed text classification: multinomial Naive Bayes train + score.

The missing piece between the corpus-quality signals (``text_quality``)
and the classifier-EVALUATION tier (``evaluation``): actually TRAINING a
classifier on the cluster. Quality/language filtering in real pretraining
pipelines (CCNet, fastText-style filters, DCLM) is "train a cheap linear
model on labeled docs, score the corpus, keep what passes" — multinomial
NB is the aggregation-native member of that family: training IS two
group-bys (class counts, per-(class,term) counts), scoring IS a broadcast
join + one more group-by. No gradient loop, no driver-side state; the
whole thing is Catalyst-planned DataFrame ops, so it scales exactly like
the other corpus operators (one tokenize shuffle per side, vocabulary-
sized model broadcast, per-doc aggregation).

Engine-exactness contract (the established round-6 pattern): every
log-probability is rounded to DECIMAL(12,6) the moment it is computed
(``pround(..., 6, 12)`` — bit-identical on any IEEE engine); per-document
scores are exact decimal sums of (bigint tf × decimal log-prob) terms, so
they are independent of partition/aggregation order on a 1000-executor
cluster; the ONLY double outputs are final casts. The DuckDB oracle twin
(`registry/text.py` doc_nb_lang_classifier) evaluates the identical
formula.

Not in the reference (its DW has no ML tier); public semantics per
Manning/Raghavan/Schütze, *Introduction to Information Retrieval* §13.2
(multinomial NB with Laplace add-one smoothing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.freshness import stamp, stored_params
from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.sources.readers import read_parquet

# parameter fingerprint for persisted NB models (parquet-footer-durable
# column metadata, the ivfpq_build_index / minhash_band_keys discipline)
NB_SCHEME = "nb-multinomial-laplace1-r6-v1"


def nb_train(
    train: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train multinomial NB: returns ``(cond, classes, consts)``.

    - ``cond``: one row per (class, term) seen in training — ``(_y, term,
      _c)`` occurrence counts. Vocabulary×classes-sized (millions of rows
      where corpora are billions) — the broadcastable model.
    - ``classes``: one row per class — ``(_y, _tot, _prior)`` with
      ``_tot`` = total token occurrences in the class and ``_prior`` =
      round-6 decimal ``ln(n_docs_class / n_docs_total)``.
    - ``consts``: ONE row — ``(_v,)`` the training vocabulary size used by
      Laplace smoothing at score time.

    Scale shape: one explode + (class, term) shuffle over the train split;
    everything downstream of it is vocabulary-sized. A class whose
    documents are all empty (zero tokens — e.g. non-Latin scripts under an
    ASCII tokenizer) still gets a prior row (left join, ``_tot`` 0).
    """
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    lab = F.col(label_col)
    # NULL labels would otherwise train a phantom NULL class that the
    # argmax's nulls-first tie-break could PREFER (predicted=NULL, and a
    # NULL keep verdict downstream) — drop them up front, the same
    # discipline as the evaluation tier's null-score filter (ADVICE r7)
    train = train.filter(lab.isNotNull())
    # spread the raw rows before the tokenize (the _spread contract)
    toks_tr = _spread(train.select(lab.alias("_y"), F.col(text_col))).select(
        "_y", F.explode(tokens(F.col(text_col))).alias("term")
    )
    # cond feeds THREE consumers (class totals, vocab size, the scoring
    # join) — materialize so the train split is tokenized exactly once
    cond = materialize(
        toks_tr.groupBy("_y", "term")
        .agg(F.count("*").alias("_c"))
    )
    tots = cond.groupBy("_y").agg(F.sum("_c").alias("_tot"))
    # priors feed both the class table and the total-doc count — derive
    # n from the class-sized priors rather than a second corpus scan
    priors = materialize(
        train.groupBy(lab.alias("_y"))
        .agg(F.count("*").alias("_nd"))
    )
    n_row = priors.agg(F.sum("_nd").alias("_n"))
    classes = (
        priors.join(tots, "_y", "left")
        .na.fill({"_tot": 0})
        .crossJoin(F.broadcast(n_row))
        .select(
            "_y",
            "_tot",
            pround(
                F.log(F.col("_nd").cast("double") / F.col("_n").cast("double")), 6, 12
            ).alias("_prior"),
        )
    )
    consts = cond.agg(F.countDistinct("term").alias("_v"))
    return cond, classes, consts


def nb_classify(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    broadcast_model: bool = True,
) -> DataFrame:
    """Train on ``train``, score every ``test`` document, return the
    argmax prediction per document.

    Output (all scalar, driver-canonicalizable): ``(id_col, actual,
    predicted, correct, margin, n_tokens)`` — ``margin`` is the decimal-
    exact gap between the best and second-best class log-joint (cast to
    double only at the end), the standard abstention/confidence signal
    for filter thresholds.

    Scoring math per (doc d, class y), Laplace add-one over train vocab V:
    ``score(d,y) = ln P(y) + Σ_term tf(d,term) · ln((c(y,term)+1) /
    (tot(y)+V))`` with every ``ln`` round-6'd into DECIMAL(12,6) first
    (absorbs last-ulp ln() divergence between engines) and the Σ an exact
    decimal sum. Unseen terms (absent from the class OR from the whole
    vocabulary) take the same smoothed ``c=0`` value via the left join.
    Argmax ties break by class value ascending (deterministic on any
    engine); documents with zero tokens score on priors alone.

    Scale shape: the model (``cond``) is vocabulary-sized and broadcast by
    default (pass ``broadcast_model=False`` past the broadcast limit — the
    join key (class, term) then shuffles both sides); the class table and
    the 1-row vocab constant are always broadcast; the per-doc aggregation
    shuffles on ``id_col``; the final argmax window partitions by document
    (k rows each — no global window anywhere).
    """
    cond, classes, consts = nb_train(train, text_col=text_col, label_col=label_col)
    return _nb_score(
        cond, classes, consts, test, text_col, id_col, label_col, broadcast_model
    )


def nb_classify_split(
    docs: DataFrame,
    bucket: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    train_buckets: int = 8,
    broadcast_model: bool = True,
) -> DataFrame:
    """:func:`nb_classify` over a deterministic bucket split of ONE corpus,
    with exactly ONE scan of the text column.

    Equivalent by construction to ``nb_classify(docs.filter(bucket <
    train_buckets), docs.filter(bucket >= train_buckets), ...)`` — same
    counts, same decimal log-probs, same argmax — but where that shape
    evaluates the split expression (typically an interpreted char-level
    ``fingerprint(text)`` hash) and re-reads the text column in THREE
    separate scans (train tokenize, test tokenize, test label base), this
    one builds a single checkpointed postings table ``(id, label, bucket,
    term, tf)`` via ``explode_outer`` (zero-token docs keep a NULL-term
    row, so the doc roster and per-class doc counts survive) and derives
    every branch from it:

    - ``cond``  = train-side ``(class, term)`` occurrence sums
      (≡ count over exploded train tokens);
    - ``priors``= train-side distinct-doc counts per class (ids are
      unique per the corpus contract, so ≡ ``count(*)`` of train docs);
    - ``te_all``= test-side postings, fed to the shared scoring tail.

    Guide §6 (read once) + §4 (the split hash is the expensive per-row
    function — evaluate it once, not three times). NULL-bucket docs
    (NULL text) fall in neither split, exactly like the filter pair.
    """
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    posting = materialize(
        _spread(
            docs.select(
                F.col(id_col), F.col(label_col).alias("_actual"), F.col(text_col)
            )
        )
        .select(
            F.col(id_col),
            "_actual",
            bucket.alias("_bkt"),
            F.explode_outer(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "_actual", "_bkt", "term")
        .agg(F.count("*").alias("_tf"))
    )
    tr = posting.filter(
        (F.col("_bkt") < train_buckets) & F.col("_actual").isNotNull()
    )
    cond = materialize(
        tr.filter(F.col("term").isNotNull())
        .groupBy(F.col("_actual").alias("_y"), "term")
        .agg(F.sum("_tf").alias("_c"))
    )
    tots = cond.groupBy("_y").agg(F.sum("_c").alias("_tot"))
    priors = materialize(
        tr.groupBy(F.col("_actual").alias("_y"))
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
    )
    n_row = priors.agg(F.sum("_nd").alias("_n"))
    classes = (
        priors.join(tots, "_y", "left")
        .na.fill({"_tot": 0})
        .crossJoin(F.broadcast(n_row))
        .select(
            "_y",
            "_tot",
            pround(
                F.log(F.col("_nd").cast("double") / F.col("_n").cast("double")), 6, 12
            ).alias("_prior"),
        )
    )
    consts = cond.agg(F.countDistinct("term").alias("_v"))
    te_all = posting.filter(F.col("_bkt") >= train_buckets).select(
        id_col, "_actual", "term", "_tf"
    )
    return _nb_score_postings(cond, classes, consts, te_all, id_col, broadcast_model)


def nb_save_model(
    train: DataFrame,
    model_dir: str,
    text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Train the multinomial NB model ONCE and persist it — the filter-
    model deployment shape (train on the labeled set as a one-off job;
    every scoring run reads the stored model instead of re-tokenizing
    the training corpus). Writes three parquet tables under
    ``model_dir``: ``cond`` (the (class, term) counts — the model),
    ``classes`` (priors + totals), ``consts`` (vocabulary size). The
    scheme fingerprint rides the ``_c`` column's metadata;
    :func:`nb_score_model` refuses a model without it, because scoring
    under a different smoothing/rounding scheme silently corrupts every
    margin. Training is deterministic, so scoring a persisted model
    equals training in-query — what the oracle checks."""
    cond, classes, consts = nb_train(train, text_col=text_col, label_col=label_col)
    cond.select(
        "_y", "term", stamp("_c", NB_SCHEME, logprob_scale=6)
    ).write.mode("overwrite").parquet(f"{model_dir}/cond")
    classes.write.mode("overwrite").parquet(f"{model_dir}/classes")
    consts.write.mode("overwrite").parquet(f"{model_dir}/consts")
    return read_parquet(train.sparkSession, f"{model_dir}/cond")


def nb_score_model(
    test: DataFrame,
    model_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str | None = "label",
    broadcast_model: bool = True,
) -> DataFrame:
    """Score documents against a PERSISTED NB model
    (:func:`nb_save_model`) — no training job anywhere in the plan: the
    model tables are small parquet reads (vocabulary-sized, broadcast),
    and only the documents being scored are tokenized. Output and
    semantics identical to :func:`nb_classify`. Pass ``label_col=None``
    for UNLABELED documents (the production filter path): the output is
    then ``(id_col, predicted, margin, n_tokens)`` — no actual/correct
    columns."""
    spark = test.sparkSession
    cond = read_parquet(spark, f"{model_dir}/cond")
    # a mismatched smoothing/rounding scheme silently corrupts every margin
    stored_params(cond, "_c", f"NB model at {model_dir!r}", NB_SCHEME)
    classes = read_parquet(spark, f"{model_dir}/classes")
    consts = read_parquet(spark, f"{model_dir}/consts")
    if label_col is None:
        scored = _nb_score(
            cond,
            classes,
            consts,
            test.withColumn("_nb_lbl", F.lit(None).cast("string")),
            text_col,
            id_col,
            "_nb_lbl",
            broadcast_model,
        )
        return scored.select(id_col, "predicted", "margin", "n_tokens")
    return _nb_score(
        cond, classes, consts, test, text_col, id_col, label_col, broadcast_model
    )


def _nb_score(
    cond: DataFrame,
    classes: DataFrame,
    consts: DataFrame,
    test: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    broadcast_model: bool,
) -> DataFrame:
    """Build the test-side postings in ONE scan and delegate.

    Round-16 (guide §6 read-once): the r15 shape scanned ``test`` twice —
    once for the tokenize (``te_post``) and once for the (id, label) base
    frame — and every caller passes a ``test`` whose split filter is an
    interpreted char-level ``fingerprint(text)`` HOF, so each extra scan
    re-hashed every document. ``explode_outer`` keeps zero-token docs as
    a NULL-term row, so the single checkpointed postings table carries
    both the term frequencies AND the complete (id, label) doc roster.
    """
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    te_all = materialize(
        _spread(
            test.select(
                F.col(id_col), F.col(label_col).alias("_actual"), F.col(text_col)
            )
        )
        .select(
            F.col(id_col),
            "_actual",
            F.explode_outer(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy(id_col, "_actual", "term")
        .agg(F.count("*").alias("_tf"))
    )
    return _nb_score_postings(cond, classes, consts, te_all, id_col, broadcast_model)


def _nb_score_postings(
    cond: DataFrame,
    classes: DataFrame,
    consts: DataFrame,
    te_all: DataFrame,
    id_col: str,
    broadcast_model: bool,
) -> DataFrame:
    """Scoring tail over prebuilt test postings ``te_all`` — one row per
    (doc, term) with ``_tf``, plus a NULL-term row for zero-token docs so
    every document is present (``explode_outer`` upstream). ``_actual``
    rides the postings; the doc roster is ``te_all.select(id, _actual)
    .distinct()`` (ids are unique per the engine's corpus contract — the
    argmax window deduplicates to one output row per id either way)."""
    te_post = te_all.filter(F.col("term").isNotNull()).select(id_col, "term", "_tf")
    expanded = te_post.crossJoin(F.broadcast(classes.select("_y", "_tot")))
    model = F.broadcast(cond) if broadcast_model else cond
    joined = (
        expanded.join(model, ["_y", "term"], "left")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "_lc",
            pround(
                F.log(
                    (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1)).cast("double")
                    / (F.col("_tot") + F.col("_v")).cast("double")
                ),
                6,
                12,
            ),
        )
    )
    persc = joined.groupBy(id_col, "_y").agg(
        F.sum(F.col("_tf") * F.col("_lc")).alias("_s"),
        F.sum("_tf").alias("_ntok"),
    )

    full = (
        te_all.select(F.col(id_col), F.col("_actual")).distinct()
        .crossJoin(F.broadcast(classes.select("_y", "_prior")))
        .join(persc, [id_col, "_y"], "left")
        .withColumn("_score", F.col("_prior") + F.coalesce(F.col("_s"), F.lit(0)))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_score"), F.asc("_y"))
    ranked = full.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_second", F.lead("_score").over(w)
    )
    return ranked.filter(F.col("_rn") == 1).select(
        F.col(id_col),
        F.col("_actual").alias("actual"),
        F.col("_y").alias("predicted"),
        (F.col("_y") == F.col("_actual")).alias("correct"),
        (F.col("_score") - F.col("_second")).cast("double").alias("margin"),
        F.coalesce(F.col("_ntok"), F.lit(0)).cast("int").alias("n_tokens"),
    )


def logistic_regression_gd(
    feats: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    iters: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """Distributed logistic-regression training: full-batch gradient
    descent where each iteration is ONE aggregation over the feature
    table and the weight vector flows as a broadcast 1-row DataFrame —
    the DataFrame-native rendering of the parameter-server/allreduce
    loop every distributed trainer runs. No driver-side weight state, no
    per-row Python; the per-iteration synchronization barrier is the
    1-row aggregate itself.

    Output: one row per iteration — ``(iter, loss, w_bias, w_<feature>…)``
    — reporting the mean log-loss and weights BEFORE that iteration's
    update (iter 0 = the zero vector), i.e. the whole training
    trajectory, which an oracle can replay term for term.

    Engine-exactness (the same contract as :func:`nb_classify`): feature
    columns MUST be exact decimals (e.g. the round-6 ratio features from
    ``functions/text.py``) and the label 0/1; the per-row dot product and
    sigmoid run in deterministic IEEE double arithmetic with a fixed
    expression tree, the sigmoid (the only transcendental whose last ulp
    can differ between engines) is rounded to DECIMAL(18,9) immediately,
    per-row log-loss terms likewise, and every cross-row SUM is an exact
    decimal sum — so the trajectory is bit-identical on any engine and
    independent of partitioning/aggregation order on a 1000-executor
    cluster. Weight updates re-round to 9 decimals per step, keeping the
    weight type fixed at DECIMAL(18,9) forever (no decimal-scale creep).

    Scale shape: one scan of ``feats`` per iteration (each iteration's
    1-row aggregate is eagerly materialized so the lazily
    returned trajectory does not re-expand the training lineage
    quadratically); partial aggregation is map-side, the reduce is k+2
    decimal sums. Callers should materialize ``feats`` first (it is
    scanned ``iters`` times). Log-loss is clamped at 1e-9 — a saturated
    sigmoid never produces ±inf.
    """
    wcols = ["w_bias"] + [f"w_{c}" for c in feature_cols]
    gcols = ["_g_bias"] + [f"_g_{c}" for c in feature_cols]
    spark = feats.sparkSession
    w = spark.range(1).select(
        *[F.lit(0).cast("decimal(18,9)").alias(c) for c in wcols]
    )
    out: DataFrame | None = None
    for it in range(iters):
        z: Column = F.col("w_bias").cast("double")
        for c in feature_cols:
            z = z + F.col(f"w_{c}").cast("double") * F.col(c).cast("double")
        s = pround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9, 18)
        sc = F.least(
            F.greatest(s.cast("double"), F.lit(1e-9)), F.lit(1.0) - F.lit(1e-9)
        )
        yv = F.col(label_col).cast("int")
        ll = pround(
            -(yv * F.log(sc) + (F.lit(1) - yv) * F.log(F.lit(1.0) - sc)), 9, 18
        )
        resid = s - yv  # exact decimal residual
        aggs = [F.count("*").alias("_n"), F.sum(ll).alias("_lsum"), F.sum(resid).alias("_g_bias")]
        for c in feature_cols:
            aggs.append(F.sum(resid * F.col(c)).alias(f"_g_{c}"))
        aggs += [F.min(c).alias(c) for c in wcols]  # constants: carry w through
        g = materialize(feats.crossJoin(F.broadcast(w)).agg(*aggs), eager=True)
        row = g.select(
            F.lit(it).cast("int").alias("iter"),
            pround(F.col("_lsum").cast("double") / F.col("_n"), 9, 18)
            .cast("double")
            .alias("loss"),
            *[F.col(c).cast("double").alias(c) for c in wcols],
        )
        out = row if out is None else out.unionByName(row)
        w = g.select(
            *[
                pround(
                    F.col(wc).cast("double")
                    - F.lit(lr) * (F.col(gc).cast("double") / F.col("_n")),
                    9,
                    18,
                ).alias(wc)
                for wc, gc in zip(wcols, gcols)
            ]
        )
    assert out is not None
    return out.orderBy("iter")
