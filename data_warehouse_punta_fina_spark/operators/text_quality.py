"""Corpus repetition / quality metrics for training-data curation.

Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
Models", table A1): excessively repetitive documents are low-quality
training data, detected via the share of the most frequent n-gram and
the fraction of n-grams that occur more than once. The reference
warehouse has no equivalent (its text handling stops at
`data_validator.py` string normalization); this extends the engine's
LLM-pipeline tier alongside `functions.text.quality_score`.

Scale shape: one explode of token n-grams (rows × ~tokens-per-doc) and
two hash aggregations keyed by doc id — no window over the full corpus,
no driver collect. At 100 TB the explode dominates; it is map-side only
(the shuffle carries (doc_id, gram) partial counts, combiner-reduced),
so the operator scales with corpus size like any word-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.materialize import materialize


def token_ngrams(col, n: int = 2):
    """Contiguous token n-grams as an array<string> column (space-joined;
    docs shorter than n tokens yield an empty array)."""
    toks = tokens(col)
    if n == 1:
        return toks
    return F.transform(
        # sequence over start positions 1..len-n+1 (1-based element_at)
        F.when(
            F.size(toks) >= n,
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        ).otherwise(F.array().cast("array<int>")),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j)).cast("int")) for j in range(n)]
        ),
    )


def ngram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """(id, gram) OCCURRENCE rows (not distinct — counts matter for
    repetition/LM statistics). Built with posexplode + window ``lead``
    instead of the :func:`token_ngrams` array HOF: higher-order functions
    evaluate interpreted per element, while this path stays inside
    whole-stage codegen (same rewrite that took ``shingle_rows`` ~4×
    faster). Docs shorter than ``n`` tokens contribute no rows — callers
    that must keep them re-attach via a left join on the id."""
    from data_warehouse_punta_fina_spark.operators.dedup import _spread

    ex = (
        _spread(df)
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), F.posexplode("_toks").alias("pos", "tok"))
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    led = ex.select(
        F.col(id_col),
        *[F.lead("tok", k).over(w).alias(f"_t{k}") for k in range(n)],
    )
    return led.filter(F.col(f"_t{n-1}").isNotNull()).select(
        F.col(id_col),
        F.concat_ws(" ", *[F.col(f"_t{k}") for k in range(n)]).alias("gram"),
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document repetition profile over token ``n``-grams:

    - ``n_grams``       — total n-gram occurrences in the doc
    - ``distinct_grams``— distinct n-grams
    - ``top_gram_share``— occurrences of the single most frequent n-gram
      / total (Gopher "top n-gram fraction"; ties resolved by count only,
      the share is identical for any tied gram)
    - ``dup_gram_frac`` — fraction of occurrences belonging to n-grams
      seen more than once (Gopher "duplicate n-gram fraction")
    - ``unique_ratio``  — distinct / total

    Ratios use the portable round-6 (`functions.money.pround`) so the
    DuckDB oracle reproduces them bit-exactly. Docs with fewer than ``n``
    tokens emit zero totals and null ratios.
    """
    # the array-HOF path, deliberately: at the default n=2 the transform
    # is two element_ats per gram and the plan stays shuffle-free until
    # the (id, gram) count — measured FASTER than the ngram_rows window
    # form here (1.41 vs 1.74 s warm at sf0.1), whose extra id-shuffle
    # only pays off when the per-row gram work is heavier (bigram LM's
    # multi-consumer postings: 2.77 → 2.06 s with ngram_rows)
    grams = df.select(
        F.col(id_col), F.explode_outer(token_ngrams(F.col(text_col), n)).alias("_g")
    )
    # explode_outer keeps short/empty docs as one null-gram row; count of a
    # null column is 0, so those docs flow through with zero totals.
    per_gram = grams.groupBy(id_col, "_g").agg(F.count("_g").alias("_c"))
    agg = per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("_total"),
        F.count("_g").alias("_distinct"),
        F.max("_c").alias("_top"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(F.lit(0))).alias("_dup"),
    )

    def _ratio(num):
        return F.when(
            F.col("_total") > 0, pround(num / F.col("_total"), 6, 12)
        ).cast("double")

    return agg.select(
        F.col(id_col),
        F.col("_total").cast("int").alias("n_grams"),
        F.col("_distinct").cast("int").alias("distinct_grams"),
        _ratio(F.col("_top")).alias("top_gram_share"),
        _ratio(F.col("_dup")).alias("dup_gram_frac"),
        _ratio(F.col("_distinct")).alias("unique_ratio"),
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own bigram
    LM: ``mean over bigram occurrences of -ln p(w2|w1)`` with
    ``p(w2|w1) = corpus_count(w1 w2) / corpus_count(w1 ·)``.

    Strictly sharper than :func:`unigram_surprisal` for boilerplate
    detection: templated text repeats TRANSITIONS, so its conditional
    surprisal collapses even when its unigram mix looks normal. Output:
    (id, n_bigrams, surprisal), null surprisal for docs under 2 tokens.

    Exactness and scale shape mirror the unigram operator: per-bigram
    ``ln(c1/c2)`` round-6'd into DECIMAL(12,6) before the exact decimal
    weighted sum; the bigram vocabulary broadcasts by default
    (``broadcast_vocab=False`` → shuffle join past the broadcast limit);
    the only corpus-sized shuffle is the (doc, bigram) count.
    """
    grams = ngram_rows(df, text_col, id_col, 2).withColumnRenamed("gram", "bg")
    postings = grams.groupBy(id_col, "bg").agg(F.count("*").alias("tf"))
    cbg = postings.groupBy("bg").agg(F.sum("tf").alias("c2"))
    cpre = (
        cbg.withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    maybe_b = F.broadcast if broadcast_vocab else (lambda d: d)
    scored = (
        postings.join(maybe_b(cbg), "bg")
        .withColumn("w1", F.substring_index(F.col("bg"), " ", 1))
        .join(maybe_b(cpre), "w1")
        .withColumn(
            "_surp",
            pround(F.log(F.col("c1").cast("double") / F.col("c2").cast("double")), 6, 12),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("tf") * F.col("_surp")).alias("_sum_surp"),
    )
    ids = df.select(F.col(id_col)).distinct()
    return ids.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("int").alias("n_bigrams"),
        pround(F.col("_sum_surp").cast("double") / F.col("n_bigrams"), 6, 12)
        .cast("double")
        .alias("surprisal"),
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document mean token surprisal under the corpus's own unigram
    LM: ``mean over token occurrences of -ln p(token)``, with
    ``p(token) = corpus_count(token) / corpus_total``.

    The CCNet/Dolma-family quality signal in its simplest self-trained
    form: low surprisal = dominated by the corpus's most common tokens
    (boilerplate), high = rare-token-heavy (specialist text or noise);
    both tails are candidate filters. Output: (id, n_tokens, surprisal),
    surprisal null for empty docs.

    Exactness: per-token ``ln(T/ct)`` is round-6'd immediately (absorbs
    last-ulp ln() divergence between engines) into DECIMAL(12,6), the
    per-doc weighted sum is an exact decimal sum (partition-order
    independent), and the final mean is one double division + round-6.

    Scale shape: one token explode + (doc, term) count, a vocabulary-
    sized term-frequency table (broadcast by default — vocabularies are
    millions of rows where corpora are billions; pass
    ``broadcast_vocab=False`` for noisy web-scale vocabularies past the
    broadcast limit, which falls back to a shuffle join on the term),
    and a 1-row grand-total broadcast.
    """
    from data_warehouse_punta_fina_spark.operators.retrieval import corpus_term_stats

    postings, _, _ = corpus_term_stats(df, text_col, id_col)
    term_ct = postings.groupBy("term").agg(F.sum("tf").alias("ct"))
    total = term_ct.agg(F.sum("ct").alias("t_total"))

    scored = (
        postings.join(F.broadcast(term_ct) if broadcast_vocab else term_ct, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_surp",
            pround(
                F.log(F.col("t_total").cast("double") / F.col("ct").cast("double")),
                6,
                12,
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("tf").alias("n_tokens"),
        F.sum(F.col("tf") * F.col("_surp")).alias("_sum_surp"),
    )
    out = per_doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        pround(F.col("_sum_surp").cast("double") / F.col("n_tokens"), 6, 12)
        .cast("double")
        .alias("surprisal"),
    )
    # keep empty docs (no postings) with null surprisal
    ids = df.select(F.col(id_col)).distinct()
    return ids.join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("int").alias("n_tokens"),
        F.col("surprisal"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal complementing the repetition
    metrics (a doc repeating three tokens has low entropy even when no
    single n-gram dominates): ``H = −Σ_tokens (c/n)·ln(c/n)`` plus the
    normalized form ``H / ln(distinct)`` (1.0 = perfectly uniform; NULL
    when the doc has <2 distinct tokens, where it is undefined).

    Output: (id, n_tokens, distinct_tokens, entropy, norm_entropy), one
    row per input doc (empty docs report zeros and NULL entropies).

    Exactness: each distinct token's term is portable-round-6'd into
    DECIMAL BEFORE the per-doc sum (decimal sums are exact and
    partition-order independent — a double sum would drift between runs
    and engines); the normalization divide is one IEEE op on the exact
    sum. Shape: one explode → (doc, token) count with map-side combine →
    per-doc agg; no window, no join beyond the doc spine re-attach.
    """
    counts = (
        ngram_rows(df, text_col, id_col, 1)
        .withColumnRenamed("gram", "tok")
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
    )
    # per-doc totals via a doc-partitioned window on the count table (NOT
    # a groupBy+self-join, which would re-run the corpus explode per
    # consumer — the single-tokenize discipline)
    wd = Window.partitionBy(id_col)
    terms = counts.withColumn("n", F.sum("c").over(wd)).withColumn(
        "distinct_tokens", F.count("*").over(wd)
    ).withColumn(
        "_t",
        pround(
            (F.col("c").cast("double") / F.col("n").cast("double"))
            * F.log(F.col("c").cast("double") / F.col("n").cast("double")),
            6,
            12,
        ),
    )
    agg = terms.groupBy(id_col).agg(
        F.first("n").alias("n_tokens"),
        F.first("distinct_tokens").alias("distinct_tokens"),
        (-F.sum("_t")).cast("double").alias("entropy"),
    )
    return (
        df.select(F.col(id_col))
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("distinct_tokens"), F.lit(0))
            .cast("bigint")
            .alias("distinct_tokens"),
            F.col("entropy"),
            F.when(
                F.col("distinct_tokens") > 1,
                pround(
                    F.col("entropy") / F.log(F.col("distinct_tokens").cast("double")), 6, 12
                ).cast("double"),
            ).alias("norm_entropy"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 5,
    top_k: int = 50,
    broadcast_marginals: bool = True,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by pointwise mutual information —
    the classic corpus-analysis signal (Church & Hanks 1990) for finding
    multiword units ("new york", "machine learning") whose co-occurrence
    beats chance. Curation pipelines use the PMI table to spot boilerplate
    phrases, glue tokenizer merges, and audit topical drift.

    PMI is computed against the bigram distribution's OWN marginals
    (``p(w1·)``, ``p(·w2)`` from the pair-count table), so the whole
    operator derives from ONE tokenize → one map-side-combined bigram
    count; the marginals are two tiny re-aggregations of the
    vocabulary-sized count table, joined back (broadcast by default;
    ``broadcast_marginals=False`` → shuffle join past the broadcast
    limit). The global top-k is a TakeOrdered — no global window, no
    single-partition sort. ``min_pair_count`` drops noise pairs whose PMI
    is dominated by low-count variance (standard practice).

    Cross-engine exactness: the PMI double is ln() of IEEE
    divisions/multiplications in a fixed order — identical on any
    engine — then portable round-6 (absorbs last-ulp ln divergence, same
    argument as BM25's idf). Ties at the top-k boundary break on
    (w1, w2) ascending. Output: (w1, w2, n_pair, pmi).
    """
    # the pair-count table feeds FOUR consumers (marginals ×2, total,
    # scoring) — materialize it or the corpus tokenize re-runs per branch
    # (plan-audited: 4 corpus scans before, 1 after). It is vocabulary²-
    # of-observed-pairs sized — tiny next to the corpus.
    pairs = materialize(
        ngram_rows(df, text_col, id_col, 2)
        .groupBy("gram")
        .agg(F.count("*").alias("n_pair"))
        .select(
            F.substring_index(F.col("gram"), " ", 1).alias("w1"),
            F.substring_index(F.col("gram"), " ", -1).alias("w2"),
            F.col("n_pair"),
        )
    )
    mx = pairs.groupBy("w1").agg(F.sum("n_pair").alias("c1"))
    my = pairs.groupBy("w2").agg(F.sum("n_pair").alias("c2"))
    tot = pairs.agg(F.sum("n_pair").alias("n"))
    maybe_b = F.broadcast if broadcast_marginals else (lambda d: d)
    n = F.col("n").cast("double")
    scored = (
        pairs.filter(F.col("n_pair") >= min_pair_count)
        .join(maybe_b(mx), "w1")
        .join(maybe_b(my), "w2")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "pmi",
            pround(
                F.log(
                    (F.col("n_pair").cast("double") / n)
                    / ((F.col("c1").cast("double") / n) * (F.col("c2").cast("double") / n))
                ),
                6,
                12,
            ),
        )
    )
    return (
        scored.select("w1", "w2", "n_pair", "pmi")
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def source_quality_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    short_chars: int = 100,
    max_dup_frac: float = 0.5,
    min_mean_quality: float = 0.5,
) -> DataFrame:
    """Per-source (domain-level) corpus health report with a keep/drop
    gate — the FineWeb/RefinedWeb curation step that filters whole
    *sources* (domains, crawl segments, feeds) whose aggregate signals
    are bad, before any per-document filtering runs. The reference
    warehouse has no corpus tier; this extends the LLM-pipeline
    extension alongside the per-document `quality_score` gate.

    Per source: document count, exact-duplicate fraction
    (1 − distinct md5(text)/count — the same 16-byte hash the exact
    dedup family shuffles, never the text), mean composite quality,
    mean length, and the short-document fraction; ``kept`` is the gate
    (dup fraction ≤ ``max_dup_frac`` AND mean quality ≥
    ``min_mean_quality``).

    Scale shape: one doc-local map (hash + quality ratios, no shuffle of
    text), then a groupBy(source) whose partials are fixed-width; the
    only content-sized shuffle is the distinct-hash count, which ships
    (source, 16-byte hash) pairs — identical posture to
    `exact_dedup`. Output is sources-sized (tiny). Deterministic: the
    quality mean is an exact decimal sum (quality_score is round-6'd
    decimal) with ONE double division, round-6'd; all other ratios are
    integer-counter ratios.
    """
    from data_warehouse_punta_fina_spark.functions.text import quality_score

    per_doc = docs.select(
        F.col(source_col).alias("source"),
        F.md5(F.col(text_col)).alias("_h"),
        F.length(F.col(text_col)).alias("_len"),
        quality_score(text_col).alias("_q"),
    )
    rep = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("_h").alias("_n_distinct"),
        F.sum("_q").alias("_q_sum"),
        F.sum("_len").alias("_len_sum"),
        F.sum(F.when(F.col("_len") < short_chars, 1).otherwise(0)).alias("_n_short"),
    )
    dup_frac = pround(
        F.lit(1.0) - F.col("_n_distinct").cast("double") / F.col("n_docs"), 6, 12
    ).cast("double")
    mean_q = pround(F.col("_q_sum").cast("double") / F.col("n_docs"), 6, 12).cast(
        "double"
    )
    mean_chars = pround(
        F.col("_len_sum").cast("double") / F.col("n_docs"), 6, 12
    ).cast("double")
    short_frac = pround(
        F.col("_n_short").cast("double") / F.col("n_docs"), 6, 12
    ).cast("double")
    return rep.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        dup_frac.alias("dup_frac"),
        mean_q.alias("mean_quality"),
        mean_chars.alias("mean_chars"),
        short_frac.alias("short_frac"),
        (
            (dup_frac <= F.lit(max_dup_frac)) & (mean_q >= F.lit(min_mean_quality))
        ).alias("kept"),
    )


def source_percentile_gate(
    df: DataFrame,
    score_col: str,
    source_col: str = "source",
    id_col: str = "doc_id",
    keep_top: float = 0.5,
) -> DataFrame:
    """Per-source quantile quality gate: rank every document WITHIN its
    source and keep the top ``keep_top`` fraction of each source —
    the debiasing alternative to one global threshold, which silently
    filters out entire sources whose score distribution sits lower
    (raw-crawl vs curated) even when their best documents are exactly
    what a balanced corpus needs. Real curation stacks gate per-domain
    for this reason.

    Output (scalar): ``(id_col, source_col, score_col, pct_rank, keep)``
    with ``pct_rank = r6((rank-1)/(n_source-1))`` (0 = best; 0.0 for
    singleton sources) and ``keep = pct_rank < keep_top``. Ranking is
    total-ordered (score desc, id asc) so ties and the percentile are
    deterministic on any engine; the explicit (rank-1)/(n-1) form is
    computed rather than relying on an engine's PERCENT_RANK variant.

    Scale shape: one shuffle on the source key; a skewed giant source
    concentrates its ranking in one task — pre-split such sources
    upstream (the documented per-doc-window caveat) or gate on a coarser
    sub-source key."""
    w = Window.partitionBy(source_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    cnt = Window.partitionBy(source_col)
    pct = F.when(F.col("_n") > 1,
        pround(
            (F.col("_rn") - F.lit(1)).cast("double")
            / (F.col("_n") - F.lit(1)).cast("double"),
            6,
            12,
        ),
    ).otherwise(F.lit(0).cast("decimal(12,6)"))
    return (
        df.select(F.col(id_col), F.col(source_col), F.col(score_col))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(cnt))
        .select(
            id_col,
            source_col,
            score_col,
            pct.alias("pct_rank"),
            (pct < F.lit(keep_top)).alias("keep"),
        )
    )
