"""Text-quality queries over the documents table: per-doc stats, language
id and classifiers, repetition/surprisal profiles, terms and BPE."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.text import (
    PII_PATTERNS,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from data_warehouse_punta_fina_spark.operators.bpe import (
    bpe_oracle_sql,
    bpe_segmentation_oracle_sql,
)
from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.registry.shared import (
    _FINGERPRINT,
    _LANG_CASE,
    _N_TOK,
    _PUNCT_RAW,
    _QUALITY,
    _TOKENS,
    _data_fingerprint,
    _hex13,
    _index_cache_dir,
    _maintained_drain,
    _r6,
    query,
    sql_of,
)
from data_warehouse_punta_fina_spark.sources.readers import load_table


_STOP_EN = ", ".join(f"'{w}'" for w in ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"])

_BPE = (
    "CAST(ceil(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE) / 4) "
    "+ length(regexp_replace(text, '[^0-9]', '', 'g')) "
    "+ length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT)"
)


@query(f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars_calc,
       CAST({_N_TOK} AS INT) AS n_tokens,
       {_BPE} AS n_bpe_tokens,
       {_r6(_PUNCT_RAW)} AS punct_ratio,
       {_r6(f"CAST(len(list_filter({_TOKENS}, t -> t IN ({_STOP_EN}))) AS DOUBLE) / greatest({_N_TOK}, 1)")} AS stopword_ratio,
       {_r6(_QUALITY)} AS quality,
       {_FINGERPRINT} AS fingerprint
FROM documents
""", dec=["punct_ratio", "stopword_ratio", "quality"])
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stopword_ratio"),
        quality_score("text").alias("quality"),
        fingerprint("text").alias("fingerprint"),
    )


_RED_SQL = "text"
for _pat, _tok in PII_PATTERNS:
    _RED_SQL = f"regexp_replace({_RED_SQL}, '{_pat}', '{_tok}', 'g')"
# mirrors functions.text.pii_hits: placeholders in the redacted text
# minus placeholder literals already present in the raw text, each
# pattern's delta clamped at 0 (a raw placeholder adjacent to a PII
# match gets swallowed by the greedy URL pattern — see pii_hits)
_HITS_SQL = " + ".join(
    f"GREATEST(CAST((length(red) - length(replace(red, '{_tok}', ''))) / {len(_tok)} AS INT)"
    f" - CAST((length(text) - length(replace(text, '{_tok}', ''))) / {len(_tok)} AS INT), 0)"
    for _, _tok in PII_PATTERNS
)


@query(f"""
WITH r AS (SELECT doc_id, text, {_RED_SQL} AS red FROM documents)
SELECT doc_id, {_HITS_SQL} AS n_pii,
       CAST(length(red) AS INT) AS n_chars_redacted,
       substr(red, 1, 80) AS muestra
FROM r
""")
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pretraining-corpus scrubbing: emails/URLs/digit-runs → typed
    # placeholders, pure codegen regexp_replace chain
    from data_warehouse_punta_fina_spark.functions.text import pii_hits, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    red = redact_pii("text")
    return docs.select(
        "doc_id",
        pii_hits("text").alias("n_pii"),
        F.length(red).alias("n_chars_redacted"),
        F.substring(red, 1, 80).alias("muestra"),
    )


@query(f"""
WITH g AS (
  SELECT doc_id, CAST({_N_TOK} AS INT) AS n_tokens,
         {_r6(_QUALITY)} AS quality, {_r6(_PUNCT_RAW)} AS punct
  FROM documents
), m AS (
  SELECT doc_id, n_tokens, quality,
         CASE WHEN n_tokens < 10 THEN 'too_short'
              WHEN quality < 0.5 THEN 'low_quality'
              WHEN punct > 0.2 THEN 'too_punct'
              ELSE 'ok' END AS motivo
  FROM g
)
SELECT doc_id, n_tokens, quality, motivo, motivo = 'ok' AS keep FROM m
""", dec=["quality"])
def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the corpus-filtering decision a training pipeline actually makes:
    # keep/drop + first failing reason, thresholds on the shared
    # oracle-reproducible quality metrics
    docs = load_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    q = quality_score("text")
    p = punct_ratio("text")
    motivo = (
        F.when(n_tok < 10, "too_short")
        .when(q < 0.5, "low_quality")
        .when(p > 0.2, "too_punct")
        .otherwise("ok")
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        q.alias("quality"),
        motivo.alias("motivo"),
        (motivo == "ok").alias("keep"),
    )


@query(f"""
WITH t AS (
  SELECT CAST(FLOOR(CAST({_N_TOK} AS INT) / 32) AS INT) AS bucket, CAST({_N_TOK} AS INT) AS n
  FROM documents
)
SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS total_tokens,
       MIN(n) AS min_tokens, MAX(n) AS max_tokens
FROM t GROUP BY bucket
""")
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-length distribution in 32-token buckets — the length-mix
    # report every corpus build runs before packing sequences
    docs = load_table(spark, sf_dir, "documents")
    n = token_count("text")
    return (
        docs.select(F.floor(n / F.lit(32)).cast("int").alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
    )


@query(f"""
SELECT doc_id, lang, {_LANG_CASE} AS lang_pred FROM documents
""")
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


# full-batch logistic-regression GD replayed as an unrolled CTE chain —
# the oracle twin of operators/classify.logistic_regression_gd: per-row
# dot product + sigmoid in deterministic IEEE doubles, sigmoid and
# log-loss round-9'd into DECIMAL(18,9) the moment they exist, every
# cross-row SUM exact decimal, weight updates re-rounded to 9 decimals
_r9 = "CAST(FLOOR(({e}) * 1000000000 + 0.5) / 1000000000 AS DECIMAL(18,9))"
_swr6 = (
    f"CAST(FLOOR((CAST(len(list_filter({_TOKENS}, t -> t IN ({_STOP_EN}))) AS DOUBLE)"
    f" / greatest(len({_TOKENS}), 1)) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))"
)
_punct6 = f"CAST(FLOOR(({_PUNCT_RAW}) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))"
_q6 = f"CAST(FLOOR(({_QUALITY}) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))"
_lrfeat = ["sw", "punct", "q"]
_wall = ["w_bias"] + [f"w_{c}" for c in _lrfeat]
_lrp = [
    f"WITH feat AS (SELECT {_swr6} AS sw, {_punct6} AS punct, {_q6} AS q, "
    "CAST(lang = 'en' AS INT) AS y FROM documents)",
    "w0 AS (SELECT "
    + ", ".join(f"CAST(0 AS DECIMAL(18,9)) AS {w}" for w in _wall)
    + ")",
]
for _i in range(8):
    _z = "CAST(w_bias AS DOUBLE)" + "".join(
        f" + CAST(w_{c} AS DOUBLE) * CAST({c} AS DOUBLE)" for c in _lrfeat
    )
    _s = _r9.format(e=f"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-({_z})))")
    _scl = "least(greatest(CAST(s AS DOUBLE), 1e-9), CAST(1 AS DOUBLE) - 1e-9)"
    _ll = _r9.format(e=f"-(y * ln({_scl}) + (1 - y) * ln(CAST(1 AS DOUBLE) - {_scl}))")
    _lrp.append(f"s{_i} AS (SELECT f.*, w.*, {_s} AS s FROM feat f CROSS JOIN w{_i} w)")
    _gsel = ["COUNT(*) AS n", f"SUM({_ll}) AS lsum", "SUM(s - y) AS g_bias"]
    _gsel += [f"SUM((s - y) * {c}) AS g_{c}" for c in _lrfeat]
    _gsel += [f"MIN({w}) AS {w}" for w in _wall]
    _lrp.append(f"g{_i} AS (SELECT " + ", ".join(_gsel) + f" FROM s{_i})")
    _loss = _r9.format(e="CAST(lsum AS DOUBLE) / n")
    _lrp.append(
        f"r{_i} AS (SELECT CAST({_i} AS INT) AS iter, CAST({_loss} AS DOUBLE) AS loss, "
        + ", ".join(f"CAST({w} AS DOUBLE) AS {w}" for w in _wall)
        + f" FROM g{_i})"
    )
    _wsel = ", ".join(
        _r9.format(
            e=f"CAST({w} AS DOUBLE) - CAST(0.5 AS DOUBLE) * (CAST(g_{g} AS DOUBLE) / n)"
        )
        + f" AS {w}"
        for w, g in zip(_wall, ["bias"] + _lrfeat)
    )
    _lrp.append(f"w{_i + 1} AS (SELECT {_wsel} FROM g{_i})")


@query(
    ",\n".join(_lrp)
    + "\n"
    + " UNION ALL ".join(f"SELECT * FROM r{_i}" for _i in range(8))
    + "\nORDER BY iter",
)
def doc_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed TRAINING, gradient flavor: full-batch logistic
    # regression (en-detector over round-6 text-ratio features), one
    # aggregation per GD step, weights flowing as broadcast 1-row
    # DataFrames — no driver-side weight state. Output = the whole
    # training trajectory (per-iteration loss + weights), which the
    # DuckDB oracle replays term for term (operators/classify.py)
    from data_warehouse_punta_fina_spark.operators.classify import (
        logistic_regression_gd,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = materialize(
        docs.select(
            stopword_ratio("text").alias("sw"),
            punct_ratio("text").alias("punct"),
            quality_score("text").alias("q"),
            (F.col("lang") == "en").cast("int").alias("y"),
        )
    )
    return logistic_regression_gd(feats, ["sw", "punct", "q"], "y", iters=8, lr=0.5)


# multinomial NB with Laplace add-one smoothing, trained on the
# fingerprint train split, argmax-scored on the held-out split — the
# identical formula to operators/classify.py: every ln round-6'd into
# DECIMAL(12,6) before the exact decimal per-doc sum; ties by class asc
@query(f"""
WITH lab AS (SELECT doc_id, text, lang, ({_FINGERPRINT}) % 10 AS b FROM documents),
tr AS (SELECT * FROM lab WHERE b < 8 AND lang IS NOT NULL),
te AS (SELECT * FROM lab WHERE b >= 8),
cond AS (
  SELECT lang AS y, term, COUNT(*) AS c
  FROM (SELECT lang, unnest({_TOKENS}) AS term FROM tr)
  GROUP BY lang, term
),
tots AS (SELECT y, SUM(c) AS tot FROM cond GROUP BY y),
consts AS (SELECT (SELECT COUNT(DISTINCT term) FROM cond) AS v,
                  (SELECT COUNT(*) FROM tr) AS n),
cls AS (
  SELECT p.lang AS y, COALESCE(t.tot, 0) AS tot,
         {_r6("ln(CAST(p.nd AS DOUBLE) / CAST(co.n AS DOUBLE))")} AS prior
  FROM (SELECT lang, COUNT(*) AS nd FROM tr GROUP BY lang) p
  LEFT JOIN tots t ON t.y = p.lang CROSS JOIN consts co
),
te_post AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKENS}) AS term FROM te)
  GROUP BY doc_id, term
),
sc AS (
  SELECT p.doc_id, cl.y, SUM(p.tf) AS ntok,
         SUM(p.tf * {_r6("ln(CAST(COALESCE(cd.c, 0) + 1 AS DOUBLE) / CAST(cl.tot + co.v AS DOUBLE))")}) AS s
  FROM te_post p CROSS JOIN cls cl CROSS JOIN consts co
  LEFT JOIN cond cd ON cd.y = cl.y AND cd.term = p.term
  GROUP BY p.doc_id, cl.y
),
fullsc AS (
  SELECT t.doc_id, t.lang AS actual, cl.y,
         cl.prior + COALESCE(sc.s, 0) AS score, COALESCE(sc.ntok, 0) AS ntok
  FROM te t CROSS JOIN cls cl
  LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.y = cl.y
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, y ASC) AS rn,
         LEAD(score) OVER (PARTITION BY doc_id ORDER BY score DESC, y ASC) AS second
  FROM fullsc
)
SELECT doc_id, actual, y AS predicted, (y = actual) AS correct,
       CAST(score - second AS DOUBLE) AS margin,
       CAST(ntok AS INT) AS n_tokens
FROM ranked WHERE rn = 1
""")
def doc_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed classifier TRAINING on the cluster (the CCNet /
    # fastText filter-model pattern real curation pipelines run):
    # multinomial Naive Bayes language model trained on the
    # fingerprint-split train docs (two aggregations — no gradient
    # loop, no driver state), argmax-scored on the held-out split via
    # a broadcast vocabulary-model join. Scores are exact decimal sums
    # of round-6 log-probs → engine-portable (operators/classify.py)
    # Round-16 (guide §6): the split runs through nb_classify_split —
    # ONE text scan / ONE fingerprint evaluation feeding a shared
    # postings checkpoint instead of the filter-pair shape's three
    # scans; values identical by construction (oracle re-verified).
    from data_warehouse_punta_fina_spark.operators.classify import (
        nb_classify_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    return nb_classify_split(
        docs, fingerprint("text") % 10, "text", "doc_id", "lang", train_buckets=8
    )


# deterministic training → the persisted-model scorer produces values
# identical to in-query training; the oracle is reused verbatim (the
# doc_incremental_dedup_persisted discipline)
@query(sql_of("doc_nb_lang_classifier"))
def doc_nb_persisted_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the filter-model DEPLOYMENT shape: the NB language model is
    # trained ONCE per data fingerprint and persisted (scheme
    # fingerprint on the cond table's column metadata, validated at
    # score time); scoring reads the stored vocabulary-sized model
    # and tokenizes only the docs being scored. Deterministic
    # training → values identical to doc_nb_lang_classifier, so the
    # oracle is reused verbatim (the doc_incremental_dedup_persisted
    # discipline).
    import os

    from data_warehouse_punta_fina_spark.operators.classify import (
        NB_SCHEME,
        nb_save_model,
        nb_score_model,
    )

    # the scheme version is part of the cache key: a future scheme bump
    # re-trains instead of tripping the validator on a stale model
    fp = _data_fingerprint(sf_dir, "documents")
    mdl = _index_cache_dir("nb_model", f"lang_b8_{NB_SCHEME}_{fp}")
    docs = load_table(spark, sf_dir, "documents")
    b = fingerprint("text") % 10
    if not os.path.exists(os.path.join(mdl, "cond", "_SUCCESS")):
        nb_save_model(docs.filter(b < 8), mdl, "text", "lang")
    return nb_score_model(docs.filter(b >= 8), mdl, "text", "doc_id", "lang")


# round-13 (VERDICT r12 #7): the stream-MAINTAINED NB model merges
# (class, term) + class-doc counts exactly per micro-batch (epoched,
# replay-idempotent), so it is bit-equal to one monolithic
# nb_save_model over everything streamed — same oracle again
@query(sql_of("doc_nb_lang_classifier"))
def doc_nb_maintained_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 debut (VERDICT r12 #7): the NB-model MAINTENANCE
    # stream's driver exposure — the classifier twin of
    # doc_bm25_maintained_topk. The training docs drain through a
    # real availableNow Structured Streaming query whose every
    # micro-batch merges (class, term) counts + class doc counts
    # under EPOCHED global state (streaming/classify_stream.
    # nb_maintenance_batch — replay re-derives bit-identical
    # counts; the batch-id regression guard refuses a reset
    # checkpoint). The NB model is ENTIRELY mergeable global state,
    # so the maintained model is bit-equal to one monolithic
    # nb_save_model over everything streamed — scoring it equals
    # doc_nb_persisted_classifier, and doc_nb_lang_classifier's
    # oracle is reused verbatim.
    from functools import partial

    from data_warehouse_punta_fina_spark.operators.classify import (
        NB_SCHEME,
        nb_score_model,
    )
    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        nb_maintenance_batch,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    mdl = _index_cache_dir("nb_maint", f"lang_b8_{NB_SCHEME}_{fp}")
    docs = load_table(spark, sf_dir, "documents")
    b = fingerprint("text") % 10
    train = docs.filter(b < 8).select("doc_id", "text", "lang")
    with _maintained_drain(
        mdl, train, "doc_id", partial(nb_maintenance_batch, model_dir=mdl, label_col="lang")
    ):
        pass  # no state to lay before the drain
    return nb_score_model(docs.filter(b >= 8), mdl, "text", "doc_id", "lang")


# uncertainty sampling composes the NB oracle: smallest |margin| first,
# ties by doc_id — the active-learning labeling queue
@query(
    "SELECT doc_id, predicted, margin FROM ("
    + sql_of("doc_nb_lang_classifier")
    + ") _u ORDER BY abs(margin), doc_id LIMIT 50",
)
def doc_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # active-learning batch selection (the curation labeling loop):
    # the 50 held-out docs the NB filter model is LEAST sure about —
    # smallest |best-vs-second| margin, the standard uncertainty
    # criterion — i.e. the annotation queue that improves the filter
    # fastest. TakeOrderedAndProject: per-partition top-k, no global
    # sort; ties deterministic on doc_id.
    # round-16: same one-scan split trainer as doc_nb_lang_classifier
    # (guide §6 — the scored frame is value-identical; only the
    # selection below differs)
    from data_warehouse_punta_fina_spark.operators.classify import (
        nb_classify_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = nb_classify_split(
        docs, fingerprint("text") % 10, "text", "doc_id", "lang", train_buckets=8
    )
    return (
        scored.orderBy(F.abs(F.col("margin")).asc(), F.asc("doc_id"))
        .limit(50)
        .select("doc_id", "predicted", "margin")
    )


# Overlapping token-window chunking: 1-based inclusive list slices in
# DuckDB mirror Spark's F.slice; chunk starts are range(0, len, 24).
@query(f"""
WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
ex AS (
  SELECT doc_id, toks, CAST(u.s AS INT) AS start
  FROM base, unnest(range(0, len(toks), 24)) u(s)
  WHERE len(toks) > 0
)
SELECT doc_id, CAST(start // 24 AS INT) AS chunk_id,
       array_to_string(toks[start + 1:start + 32], ' ') AS chunk_text,
       CAST(len(toks[start + 1:start + 32]) AS INT) AS n_tokens
FROM ex
""")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # context-window chunking: overlapping 32-token windows, stride 24
    # (operators.packing.chunk_documents — the split counterpart to
    # doc_pack_bins' combine)
    from data_warehouse_punta_fina_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


# bigram-LM surprisal: -ln p(w2|w1) per bigram occurrence, exact
# decimal weighted sums, LEFT JOIN keeps docs under 2 tokens
@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS bg
  FROM toks
),
postings AS (SELECT doc_id, bg, COUNT(*) AS tf FROM grams GROUP BY doc_id, bg),
cbg AS (SELECT bg, SUM(tf) AS c2 FROM postings GROUP BY bg),
cpre AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c2) AS c1 FROM cbg GROUP BY string_split(bg, ' ')[1]),
scored AS (
  SELECT p.doc_id, p.tf,
         {_r6("ln(CAST(cpre.c1 AS DOUBLE) / CAST(cbg.c2 AS DOUBLE))")} AS s
  FROM postings p JOIN cbg USING (bg)
  JOIN cpre ON string_split(p.bg, ' ')[1] = cpre.w1
),
per_doc AS (SELECT doc_id, SUM(tf) AS n_bigrams, SUM(tf * s) AS ssum FROM scored GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(p.n_bigrams, 0) AS INT) AS n_bigrams,
       CAST({_r6("CAST(p.ssum AS DOUBLE) / p.n_bigrams")} AS DOUBLE) AS surprisal
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per_doc p USING (doc_id)
""")
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-self-trained BIGRAM-LM surprisal: templated/boilerplate
    # text repeats transitions, so conditional surprisal collapses
    # even when the unigram mix looks normal — the sharper tail filter
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.text_quality import bigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return bigram_surprisal(_spread(docs), "text", "doc_id")


@query(f"""
WITH t AS (SELECT unnest({_TOKENS}) AS term FROM documents),
f AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY term)
SELECT term, freq, CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS INT) AS rank
FROM f QUALIFY rank <= 20
""")
def corpus_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    docs = load_table(spark, sf_dir, "documents")
    toks = _spread(docs).select(F.explode(_tokens("text")).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("freq"))
    # global top-20 via orderBy().limit() → TakeOrdered (per-partition
    # top-k + driver merge), NOT a single-partition global window over
    # the whole vocabulary; the rank window then runs on 20 rows only
    top = freq.orderBy(F.desc("freq"), F.asc("term")).limit(20)
    # single-group rank over the 20 surviving rows. The partition key is
    # constant (pmod(hash,1)=0) but non-foldable, so Catalyst can't
    # reduce it to an empty partition spec — which would trip
    # WindowExec's "No Partition Defined" warning on every run.
    w = Window.partitionBy(F.pmod(F.xxhash64("term"), F.lit(1))).orderBy(
        F.desc("freq"), F.asc("term")
    )
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@query(f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         {_r6("tf.tf * n.n_docs / df.df")} AS salience
  FROM tf JOIN df USING (term) CROSS JOIN n
  WHERE tf.doc_id < 20
)
SELECT doc_id, term, tf, df, salience, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY salience DESC, term) AS rank
  FROM scored
) WHERE rank <= 5
""", dec=["salience"])
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tf-idf-style salience with exact rational arithmetic
    # (tf · N / df) — transcendental idf would differ in the last ulp
    # across engines, the ratio form is bit-portable. df comes from the
    # WHOLE corpus; output restricted to doc_id < 20, top-5 per doc.
    from data_warehouse_punta_fina_spark.functions.money import pround6
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    docs = load_table(spark, sf_dir, "documents")
    toks = _spread(docs).select("doc_id", F.explode(_tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 20)
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("salience", pround6(F.col("tf") * F.col("n_docs") / F.col("df")))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("salience"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "salience", "rank")
    )


@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM toks
),
per_gram AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
agg AS (
  SELECT doc_id, SUM(c) AS total, COUNT(*) AS dstnct, MAX(c) AS top,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM per_gram GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.total, 0) AS INT) AS n_grams,
       CAST(COALESCE(a.dstnct, 0) AS INT) AS distinct_grams,
       CAST({_r6("a.top / a.total")} AS DOUBLE) AS top_gram_share,
       CAST({_r6("a.dup / a.total")} AS DOUBLE) AS dup_gram_frac,
       CAST({_r6("a.dstnct / a.total")} AS DOUBLE) AS unique_ratio
FROM documents d LEFT JOIN agg a USING (doc_id)
""")
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition profile (top-bigram share, duplicate-
    # bigram fraction, unique ratio) — training-data quality signals
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.text_quality import repetition_metrics

    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(_spread(docs), "text", "doc_id", n=2)


# Gopher-style repetition profile over token bigrams. LEFT JOIN keeps
# docs with < 2 tokens (zero totals, null ratios) to mirror Spark's
# explode_outer.
@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
g0 AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - 4)) AS j, t FROM toks
),
g AS (SELECT doc_id, j AS pos, array_to_string(t[j:j+4], ' ') AS gram FROM g0),
c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
d AS (SELECT g.doc_id, g.pos, g.pos + 4 AS e FROM g JOIN c USING (gram)),
m AS (
  SELECT doc_id, pos, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
  FROM d
),
i AS (
  SELECT doc_id, pos, e,
         SUM(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM m
),
s AS (SELECT doc_id, island, MAX(e) - MIN(pos) + 1 AS covered
      FROM i GROUP BY doc_id, island),
a AS (SELECT doc_id, COUNT(*) AS n_spans, SUM(covered) AS dup_tokens,
             MAX(covered) AS longest_span
      FROM s GROUP BY doc_id)
SELECT l.doc_id,
       l.n_tokens,
       COALESCE(a.n_spans, 0) AS n_spans,
       CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       COALESCE(a.longest_span, 0) AS longest_span,
       {_r6("COALESCE(a.dup_tokens, 0) / GREATEST(l.n_tokens, 1)")} AS dup_fraction
FROM (SELECT doc_id, len(t) AS n_tokens FROM toks) l
LEFT JOIN a USING (doc_id)
""", dec=["dup_fraction"])
def doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lee-et-al-style exact-substring duplication profile: 5-gram
    # occurrences repeated anywhere in the corpus, interval-merged
    # into maximal spans per doc (operators.dedup.repeated_span_stats)
    from data_warehouse_punta_fina_spark.operators.dedup import repeated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return repeated_span_stats(docs, "text", "doc_id", n=5)


@query(f"""
WITH toksx AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
counts AS (SELECT doc_id, tok, COUNT(*) AS c FROM toksx GROUP BY doc_id, tok),
t AS (
  SELECT doc_id, c,
         SUM(c) OVER (PARTITION BY doc_id) AS n,
         COUNT(*) OVER (PARTITION BY doc_id) AS dt
  FROM counts
),
terms AS (
  SELECT doc_id, n, dt,
         {_r6("(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))")} AS term
  FROM t
),
agg AS (
  SELECT doc_id, MAX(n) AS n_tokens, MAX(dt) AS distinct_tokens,
         CAST(-SUM(term) AS DOUBLE) AS entropy
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(a.distinct_tokens, 0) AS distinct_tokens,
       a.entropy,
       CASE WHEN a.distinct_tokens > 1
            THEN CAST({_r6("a.entropy / ln(CAST(a.distinct_tokens AS DOUBLE))")} AS DOUBLE)
       END AS norm_entropy
FROM documents d LEFT JOIN agg a USING (doc_id)
""")
def doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shannon entropy of each doc's token distribution + normalized
    # form (operators.text_quality.token_entropy)
    from data_warehouse_punta_fina_spark.operators.text_quality import token_entropy

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs)


@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
pairs AS (
  SELECT gram, COUNT(*) AS n_pair FROM (
    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
    FROM toks
  ) GROUP BY gram
),
sp AS (SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2, n_pair
       FROM pairs),
mx AS (SELECT w1, SUM(n_pair) AS c1 FROM sp GROUP BY w1),
my AS (SELECT w2, SUM(n_pair) AS c2 FROM sp GROUP BY w2),
tot AS (SELECT SUM(n_pair) AS n FROM sp)
SELECT sp.w1, sp.w2, sp.n_pair,
       {_r6("ln((CAST(sp.n_pair AS DOUBLE) / CAST(tot.n AS DOUBLE))"
            " / ((CAST(mx.c1 AS DOUBLE) / CAST(tot.n AS DOUBLE))"
            " * (CAST(my.c2 AS DOUBLE) / CAST(tot.n AS DOUBLE))))")} AS pmi
FROM sp JOIN mx USING (w1) JOIN my USING (w2) CROSS JOIN tot
WHERE sp.n_pair >= 5
ORDER BY pmi DESC, w1, w2 LIMIT 40
""", dec=["pmi"])
def doc_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Church-&-Hanks PMI collocations: top-40 bigrams by pointwise
    # mutual information vs the pair distribution's own marginals
    # (operators.text_quality.pmi_collocations)
    from data_warehouse_punta_fina_spark.operators.text_quality import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, "text", "doc_id", min_pair_count=5, top_k=40)


# Self-trained unigram-LM surprisal: per-token ln(T/ct) round-6'd to
# DECIMAL(12,6), exact decimal weighted sum per doc, one double
# division for the mean. LEFT JOIN keeps empty docs (null surprisal).
@query(f"""
WITH toks AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
term_ct AS (SELECT term, SUM(tf) AS ct FROM postings GROUP BY term),
tot AS (SELECT SUM(ct) AS t_total FROM term_ct),
scored AS (
  SELECT p.doc_id, p.tf,
         {_r6("ln(CAST(tot.t_total AS DOUBLE) / CAST(term_ct.ct AS DOUBLE))")} AS surp
  FROM postings p JOIN term_ct USING (term) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, SUM(tf) AS n_tokens, SUM(tf * surp) AS sum_surp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_tokens, 0) AS INT) AS n_tokens,
       CAST({_r6("CAST(p.sum_surp AS DOUBLE) / p.n_tokens")} AS DOUBLE) AS surprisal
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN per_doc p USING (doc_id)
""")
def doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-trained unigram-LM mean surprisal per doc (CCNet/Dolma-style
    # quality signal; both tails are filter candidates)
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.text_quality import unigram_surprisal

    docs = load_table(spark, sf_dir, "documents")
    return unigram_surprisal(_spread(docs), "text", "doc_id")


@query(f"""
WITH toks AS (SELECT unnest({_TOKENS}) AS tok FROM documents),
c AS (SELECT tok, COUNT(*) AS n_occurrences FROM toks GROUP BY tok),
t AS (SELECT COUNT(*) AS n FROM toks)
SELECT c.tok, c.n_occurrences FROM c, t WHERE c.n_occurrences * 64 > t.n
""")
def doc_heavy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-pass distributed heavy hitters: per-partition Misra-Gries
    # candidates (provable superset), exact JVM recount, integer
    # threshold n*64 > N (operators.sampling.heavy_hitters)
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.sampling import heavy_hitters
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = _spread(docs).select(F.explode(_tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", 64)


@query(f"""
SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens_py FROM documents
""")
def batch_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # §2.10 arbitrary pandas-callable contract via Arrow-batched
    # mapInPandas — oracle-checked against the JVM-side tokenizer
    import re as _re

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def per_batch(it):
        pat = _re.compile(r"[a-z0-9]+")
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens_py": pdf["text"].map(lambda t: len(pat.findall(t.lower()))),
                }
            )

    return docs.mapInPandas(per_batch, schema="doc_id long, n_tokens_py long")


_BPE_WC_SQL = f"SELECT word, COUNT(*) AS freq FROM (SELECT unnest({_TOKENS}) AS word FROM documents) GROUP BY word"


@query(bpe_oracle_sql(_BPE_WC_SQL, merges=6))
def doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE tokenizer training (Sennrich et al. 2016): the first 6 merge
    # rules learned from the corpus word-frequency table — one
    # corpus-scale word count, then vocabulary-sized merge iterations
    # (operators.bpe.bpe_train; oracle = unrolled CTEs per merge)
    from data_warehouse_punta_fina_spark.operators.bpe import bpe_train, word_frequency

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(word_frequency(docs), merges=6)


@query(f"""
WITH seg AS (
  SELECT word, len(string_split(sym, ' ')) AS nsub
  FROM ({bpe_segmentation_oracle_sql(_BPE_WC_SQL, merges=6)}) applied
),
dwc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest({_TOKENS}) AS word FROM documents)
  GROUP BY doc_id, word
),
per_doc AS (
  SELECT doc_id, SUM(c) AS n_words, SUM(c * nsub) AS n_bpe_tokens
  FROM dwc JOIN seg USING (word) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc USING (doc_id)
""")
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the tokenizer loop closed: train 6 BPE merges on the corpus,
    # apply them to the word vocabulary (broadcast — vocab-sized),
    # count subword tokens per document (what budget/mixture
    # accounting actually consumes)
    from data_warehouse_punta_fina_spark.operators.bpe import (
        bpe_apply,
        bpe_train,
        word_frequency,
    )
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequency(docs)
    seg = bpe_apply(wf, bpe_train(wf, merges=6), merges=6).select(
        "word", F.size(F.split("sym", " ")).alias("_nsub")
    )
    from data_warehouse_punta_fina_spark.functions.text import tokens as _toks

    dw = (
        _spread(docs.select("doc_id", _toks("text").alias("_t")))
        .select("doc_id", F.explode("_t").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("_c"))
    )
    per_doc = (
        dw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_words"),
            F.sum(F.col("_c") * F.col("_nsub")).alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


# hashing trick: md5-derived index/sign (the _hex13 idiom — Spark's
# conv(substr(md5,1,13),16,10) twin), dense 16-vector via the
# doc × dim grid + ordered list aggregate
_fh_ix = f"CAST({_hex13('md5(t)')} % 16 AS INT)"
_fh_sg = "CAST(1 - 2 * ((strpos('0123456789abcdef', substr(md5(t), 14, 1)) - 1) % 2) AS BIGINT)"


@query(f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS t FROM documents),
h AS (SELECT doc_id, {_fh_ix} AS ix, {_fh_sg} AS sg FROM tok),
per AS (SELECT doc_id, ix, CAST(SUM(sg) AS BIGINT) AS v FROM h GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, CAST(g.i AS INT) AS ix
  FROM documents d CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g
),
dense AS (
  SELECT grid.doc_id, grid.ix, COALESCE(per.v, 0) AS v
  FROM grid LEFT JOIN per ON per.doc_id = grid.doc_id AND per.ix = grid.ix
)
SELECT doc_id, array_to_string(list(v ORDER BY ix), ',') AS features_csv
FROM dense GROUP BY doc_id
""")
def doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the hashing trick: fixed 16-dim signed token-count vectors, no
    # vocabulary, md5-deterministic (operators.features). The
    # driver-window projection flattens the vector to a CSV string:
    # the driver's pandas canonicalizer cannot sort list-valued
    # columns (r7 red row), and tests/test_oracle_types.py now bans
    # complex-typed top-level outputs registry-wide. The operator
    # itself keeps returning array<long> for composition.
    from data_warehouse_punta_fina_spark.operators.features import feature_hashing

    docs = load_table(spark, sf_dir, "documents")
    vec = feature_hashing(docs, "doc_id", "text", dims=16)
    return vec.select(
        "doc_id",
        F.array_join(F.col("features").cast("array<string>"), ",").alias(
            "features_csv"
        ),
    )
