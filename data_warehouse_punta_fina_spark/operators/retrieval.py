"""Lexical retrieval over the document corpus (BM25 top-k).

A training-data curation engine needs "find documents like/about X" —
e.g. locating eval-set lookalikes beyond exact-shingle decontamination,
or pulling topical subsets for mixture tuning. This implements the
standard Okapi BM25 ranking function (Robertson & Walker 1994) as pure
DataFrame algebra; no reference-warehouse counterpart (the reference has
no retrieval tier).

Scale shape (inverted-index join, the classic distributed BM25):

- corpus side: one explode to (doc_id, term, tf) — word-count shuffle
  with map-side combine; document-frequency table is a groupBy over
  distinct (term, doc) pairs, tiny (vocabulary-sized) output;
- query side: a FEW rows (query_id, term) — broadcast to every executor,
  so scoring is a broadcast hash join against the posting lists, no
  corpus reshuffle;
- per-(query, doc) score sum + per-query top-k window partitioned by
  query_id. At 100 TB the only big shuffle is the word count.

Cross-engine exactness: idf uses ln via ``F.log`` — JVM ``Math.log`` and
DuckDB/libm agree on all but possibly the last ulp, so idf is pushed
through the portable round-6 immediately (a flip needs the ulp to land
within 2e-16 of a 0.5e-6 boundary, ~4e-10 per distinct df value); the
per-term score is round-6'd to DECIMAL(12,6) BEFORE the per-doc sum —
decimal sums are exact and partition-order independent, where a double
sum would be nondeterministic across reruns — and ties break on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround
from data_warehouse_punta_fina_spark.functions.text import tokens
from data_warehouse_punta_fina_spark.operators.freshness import (
    content_fingerprint,
    fingerprint_columns,
    fingerprint_of,
    is_fresh,
    live_fingerprint,
    merge_fingerprints,
    require_fresh,
    stamp,
    stored_params,
)
from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import data_entries, read_parquet

K1 = 1.2
B = 0.75


def corpus_term_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, df_stats, dl): per-(doc, term) frequency + doc length,
    per-term document frequency, and the per-doc length table. All derive
    from ONE explode.

    Round-16 correction to the r5-r15 assumption: the branches do NOT
    reliably share the tokenize exchange at runtime. ``df_stats`` and the
    doc-count/avgdl aggregates are consumed inside BROADCAST subtrees
    (``_bm25_rank``), and AQE compiles those as separate query stages
    whose exchanges are not deduped against the main plan's — stage
    profiles of doc_bm25_topk showed the (doc, term) aggregation and the
    spread exchange each executing TWICE per run (and 2× again per PRF
    pass). The base (doc, term) count is therefore materialized,
    guaranteeing exactly one tokenize per query; every branch reads
    materialized blocks. Every caller — queries, index builders/appenders,
    the maintenance stream's foreachBatch (a batch frame, so
    checkpointing is legal) — has ≥2 downstream consumers.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    base = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    base = materialize(base)
    dl = base.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    postings = base.join(dl, id_col)
    df_stats = base.groupBy("term").agg(F.count("*").alias("df"))
    return postings, df_stats, dl


def query_terms(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    """(query_id int, term string) rows of a literal list of
    (query_id, query_text). Terms are normalized with the SAME rule as
    corpus tokens (lowercase, ``functions.text.TOKEN_SPLIT_RE`` splits —
    single source of truth, so a corpus-tokenizer change can never
    silently desynchronize the query side) so "Spark-SQL!" finds 'spark'
    and 'sql'. Repeated terms of one query count once (standard
    bag-of-documents BM25 ignores query-side tf at these query lengths)."""
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE

    qrows = [
        (qid, t)
        for qid, qtext in queries
        # dedupe, keep order; mirror functions.text.tokens exactly
        for t in dict.fromkeys(w for w in re.split(TOKEN_SPLIT_RE, qtext.lower()) if w)
    ]
    return literal_table(spark, qrows, "query_id int, term string")


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    ``queries`` is a literal list of (query_id, query_text), turned into
    terms by :func:`query_terms`. Output: (query_id, doc_id, score,
    rank), rank 1..k, score rounded to 6 (portable), ties broken by
    doc_id ascending.
    """
    postings, df_stats, dl = corpus_term_stats(docs, text_col, id_col)
    qdf = query_terms(docs.sparkSession, queries)
    return _bm25_rank(docs, qdf, k, id_col, postings, df_stats, dl)


def bm25_topk_terms(
    docs: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_query_doc: bool = False,
) -> DataFrame:
    """:func:`bm25_topk` with the query side as a DATAFRAME of
    (query_id, term) rows instead of a literal list — the query-by-example
    shape, where queries are themselves rows of a table (e.g. eval-set
    documents whose lookalikes must be found; no driver-side collect of
    query text anywhere). ``exclude_query_doc=True`` drops the
    ``doc_id == query_id`` candidate before ranking (a document is
    trivially its own best match). The query side must stay broadcastable
    (queries × terms rows — fine for thousands of queries)."""
    postings, df_stats, dl = corpus_term_stats(docs, text_col, id_col)
    qdf = query_terms.select(
        F.col("query_id"), F.col("term")
    ).distinct()
    return _bm25_rank(docs, qdf, k, id_col, postings, df_stats, dl, exclude_query_doc)


def _bm25_rank(
    docs: DataFrame,
    qdf: DataFrame,
    k: int,
    id_col: str,
    postings: DataFrame,
    df_stats: DataFrame,
    dl: DataFrame,
    exclude_query_doc: bool = False,
) -> DataFrame:
    # avgdl from the dl table, NOT a second tokens() scan over docs: dl
    # shares the postings exchange, so the corpus is tokenized once per
    # action (at 100 TB tokenization is the dominant map cost). n counts
    # ALL docs (empty ones contribute 0 length but belong in the mean).
    n_docs = docs.select(F.count("*").alias("n")).crossJoin(
        dl.agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("_total_dl"))
    ).select(F.col("n"), (F.col("_total_dl") / F.col("n")).alias("avgdl"))
    scored = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(df_stats.join(F.broadcast(qdf.select("term").distinct()), "term")), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_idf",
            # portable round-6 on the double directly (floor(x·1e6+0.5)/1e6):
            # absorbs any last-ulp ln() divergence between engines
            F.floor(
                F.log(
                    (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
        .withColumn(
            "_s",
            # per-term score rounded to DECIMAL(12,6) so the per-doc sum is
            # exact and independent of partitioning / aggregation order
            pround(
                F.col("_idf")
                * (F.col("tf") * (K1 + 1))
                / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
                6,
                12,
            ),
        )
    )
    if exclude_query_doc:
        scored = scored.filter(F.col(id_col) != F.col("query_id"))
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.sum("_s").cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def bm25_prf_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the Rocchio/RM3
    family, unweighted term-union form): a first BM25 pass takes the
    top ``fb_docs`` per query, the ``fb_terms`` highest-frequency terms
    of that feedback set NOT already in the query are unioned into the
    query, and a second pass re-scores — the classic recall-widening
    step a retrieval stack runs when queries are short.

    Scale shape: ``corpus_term_stats`` runs ONCE (both passes read the
    same postings exchange — the corpus is tokenized once); the
    feedback mining joins the broadcast (queries × fb_docs) first-pass
    result against the postings, so expansion is feedback-set-bounded.
    Deterministic: first-pass ties by ``id_col``, term picks tie by
    term ascending — mirrored exactly by the unrolled oracle."""
    postings, df_stats, dl = corpus_term_stats(docs, text_col, id_col)
    qdf = query_terms(docs.sparkSession, queries)
    first = _bm25_rank(docs, qdf, fb_docs, id_col, postings, df_stats, dl)
    fb = (
        postings.join(F.broadcast(first.select("query_id", id_col)), id_col)
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("w"))
        .join(qdf, ["query_id", "term"], "left_anti")
    )
    wexp = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    expansion = (
        fb.withColumn("_r", F.row_number().over(wexp))
        .filter(F.col("_r") <= fb_terms)
        .select("query_id", "term")
    )
    q1 = qdf.unionByName(expansion).distinct()
    return _bm25_rank(docs, q1, k, id_col, postings, df_stats, dl)


#: versioned fingerprint of the inverted-index layout + tokenizer — bumped
#: if TOKEN_SPLIT_RE, the tf/dl semantics, or the bucket scheme ever
#: changes, so a persisted index from an incompatible engine version is
#: rejected instead of silently searched (the IVFPQ_SCHEME discipline)
BM25_SCHEME = "bm25-tokenv1"


def bm25_build_index(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Persist the BM25 inverted index — the LEXICAL twin of
    ``similarity.ivfpq_build_index``: at 100 TB the posting lists are
    built once per corpus snapshot (the only big shuffle — the word
    count) and every retrieval reads the stored artifacts instead of
    re-tokenizing the corpus per query.

    Layout under ``index_dir``:

    - ``postings/`` — (term, ``id_col``, tf, dl) partitioned by
      ``bucket = pmod(xxhash64(term), n_buckets)``: a query joins on
      (bucket, term), so dynamic partition pruning reads only the query
      terms' buckets, never the whole index;
    - ``dfstats/`` — (term, df), same bucketing;
    - ``stats/`` — one row (n_docs, total_dl) for idf/avgdl, plus the
      corpus CONTENT fingerprint (``operators/freshness.py``; ``n_docs``
      is its count) so staleness against a mutated corpus is detectable
      (:func:`bm25_index_is_fresh`) and rejectable (``verify_corpus=``
      at search time), not just parameter drift.

    The scheme + n_buckets ride as column metadata on ``tf`` (the
    minhash-band / IVF-PQ discipline) and are validated at search time.
    Deterministic: same corpus → byte-identical scores from the stored
    index and the in-query :func:`bm25_topk_terms` path — which is what
    the oracle checks."""
    postings, df_stats, _dl = corpus_term_stats(docs, text_col, id_col)
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
    (
        postings.select(
            "term", id_col, stamp("tf", BM25_SCHEME, n_buckets=n_buckets), "dl", bucket
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/postings")
    )
    (
        df_stats.select("term", "df", bucket)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/dfstats")
    )
    # one corpus pass: n_docs + the content fingerprint (freshness.py);
    # total_dl comes from the already-computed postings aggregate
    (
        content_fingerprint(docs, id_col, text_col, count="n_docs")
        .crossJoin(
            postings.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("total_dl"))
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/stats")
    )


def _bm25_append_plans(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three DataFrames :func:`bm25_append_index` writes, exposed so
    the plan gate can assert the append's READ SET: none of them scans
    ``{index_dir}/postings`` — the batch postings derive from
    ``new_docs`` only; the merged vocabulary reads the stored ``dfstats``
    (vocabulary-sized, eagerly materialized so the merge can overwrite its
    own source path); the 1-row stats derive from the old stats row
    (collected) plus one aggregate over the batch postings."""
    spark = new_docs.sparkSession
    # schema/metadata only for the postings side — the validated reader
    # resolves scheme + n_buckets through the SAME path the searches use
    # (VERDICT r11 #8), and none of its three tables is executed here
    # beyond the 1-row stats collect below.
    stored_postings, _dfs, _stats, n_buckets = _bm25_read_validated(spark, index_dir)
    if "ingest_batch" in stored_postings.columns:
        # a STREAM-MAINTAINED index partitions postings under
        # ingest_batch=<id>/bucket=<b>; a batch append would write
        # root-level bucket=* directories next to them — a mixed
        # partition layout Spark cannot read back. Refuse with the
        # remedy instead of corrupting the index.
        raise ValueError(
            f"BM25 index at {index_dir!r} is stream-maintained (postings are "
            "partitioned by ingest_batch) — batch appends would corrupt its "
            "layout; keep feeding the maintenance stream "
            "(streaming/bm25_stream.bm25_maintenance_batch), or rebuild "
            "a batch-shaped index with bm25_build_index."
        )
    old = read_parquet(spark, f"{index_dir}/stats").collect()[0]
    # one batch-sized pass gives BOTH the doc count and the batch's
    # content fingerprint; disjoint ids (the append contract) make the
    # merged fingerprint exact — counts/sums add, XORs xor — so the
    # appended index stays freshness-checkable in O(batch)
    merged = merge_fingerprints(
        fingerprint_of(old), live_fingerprint(new_docs, id_col, text_col)
    )

    postings_new, df_new, _dl = corpus_term_stats(new_docs, text_col, id_col)
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
    batch_postings = postings_new.select(
        "term", id_col, stamp("tf", BM25_SCHEME, n_buckets=n_buckets), "dl", bucket
    )
    # vocabulary merge: stored (term, df) ∪ the batch's df deltas, one
    # union-aggregate over two vocabulary-sized inputs — batch ids are
    # disjoint from the corpus (the append contract), so per-term df
    # counts add exactly. An eager materialization breaks the lineage on
    # the stored path so the merged table can overwrite it.
    old_df = materialize(
        read_parquet(spark, f"{index_dir}/dfstats").select("term", "df"), eager=True
    )
    merged_df = (
        old_df.unionByName(df_new.select("term", "df"))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .select("term", "df", bucket)
    )
    # stats: the merged fingerprint (its count is n_docs; XOR/sum stay
    # NULL when the old index predates fingerprints) + ONE batch
    # aggregate (total_dl adds exactly) — cast long to keep the build
    # schema
    stats_df = postings_new.agg(
        *fingerprint_columns(merged, count="n_docs"),
        (F.coalesce(F.sum("tf"), F.lit(0)) + F.lit(int(old["total_dl"])))
        .cast("long")
        .alias("total_dl"),
    )
    return batch_postings, merged_df, stats_df


def bm25_append_index(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a document batch to a persisted BM25 index — the lexical
    twin of ``similarity.ivfpq_append_index``: the ONLY job that touches
    text is the word count over the NEW batch (appended to the
    bucket-partitioned postings). Round-11 (VERDICT r10 #2): the global
    stats refresh is O(batch ∪ vocabulary), never O(index) — the
    vocabulary table merges the STORED ``dfstats`` with the batch's df
    deltas (both vocabulary-sized; df counts add exactly because batch
    ids are disjoint from the corpus), and the 1-row stats derive from
    the old stats row plus one aggregate over the batch postings. The
    stored ``postings/`` directory is NEVER read (plan-gated in
    tests/test_round11_ops.py), so a daily append at 100 TB costs the
    new batch's word count plus a vocab-sized merge, not a full
    postings scan per batch. Because BM25's df/avgdl/n merge exactly in
    integers, an appended index stays bit-equal to a full rebuild over
    the union (the determinism the reused oracle checks). Caller
    contract: ``new_docs`` ids are disjoint from the indexed corpus
    (the single-writer append posture of all the persisted indexes)."""
    batch_postings, merged_df, stats_df = _bm25_append_plans(
        new_docs, index_dir, text_col, id_col
    )
    (
        batch_postings.write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/postings")
    )
    (
        merged_df.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/dfstats")
    )
    stats_df.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")


def bm25_compact_index(
    spark,
    src_index_dir: str,
    dst_index_dir: str,
) -> None:
    """Compact a STREAM-MAINTAINED BM25 index into the batch shape —
    the operational closer of the maintenance loop (round-12): a
    maintenance stream running for months accumulates one
    ``ingest_batch=<id>`` partition per micro-batch, and thousands of
    small files degrade every bucket-pruned search. Compaction rewrites
    the postings into the batch layout (``bucket=<b>`` only — one
    coalesced file set per bucket), copies the published
    dfstats/stats verbatim (they are already merged and flat — nothing
    to recompute, including the maintained corpus fingerprint, which
    stays valid because compaction changes LAYOUT, not content), and
    drops the epoch history. The result is bit-equal under search and
    is a first-class batch index again: ``bm25_append_index`` accepts
    it (the stream-layout guard no longer fires) and the freshness
    cycle carries over.

    Runs src → dst (no in-place rewrite: an overwrite of a live index
    is not atomic on object stores; cut over by path swap at the
    caller, the lakehouse convention). Also accepts a batch-shaped
    source (plain re-coalesce — the small-files OPTIMIZE for an index
    that took many batch appends).

    One index-sized job: a read + one repartition-by-bucket shuffle so
    every bucket lands as ONE file. At 100 TB this is the weekly
    hygiene job, not a per-batch cost. After the path swap, retire the
    superseded fragmented layout (and its epoch history) with
    ``operators.index_admin.retire_index_dir`` — compaction creates the
    successor; retirement owns deleting the predecessor."""
    postings, df_stats, stats, n_buckets = _bm25_read_validated(spark, src_index_dir)
    id_cols = [
        c for c in postings.columns if c not in ("term", "tf", "dl", "bucket", "ingest_batch")
    ]
    if len(id_cols) != 1:
        raise ValueError(
            f"cannot identify the doc-id column in postings schema {postings.columns}"
        )
    id_col = id_cols[0]
    (
        # repartition BY bucket so each write task holds whole buckets —
        # ONE file per bucket partition (true compaction), instead of
        # tasks × buckets small files from a layout-preserving write
        postings.select(
            "term", id_col, stamp("tf", BM25_SCHEME, n_buckets=n_buckets), "dl", "bucket"
        )
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{dst_index_dir}/postings")
    )
    (
        df_stats.select("term", "df", "bucket")
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{dst_index_dir}/dfstats")
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{dst_index_dir}/stats")


def bm25_index_is_fresh(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """True iff the index's stored corpus fingerprint (in ``stats/``)
    matches the LIVE corpus; False for a mutated corpus and for a
    missing or fingerprint-less index (``operators/freshness.is_fresh``).
    One full corpus scan — refresh orchestration, not a per-query guard."""
    return is_fresh(docs, f"{index_dir}/stats", id_col, text_col)


def _bm25_read_validated(
    spark, index_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """Read one persisted index's three tables and its bucket modulus.
    Shared by the single-index and federated searches, the append and
    the compaction (VERDICT r11 #8). The parameters are checked from the
    postings footer BEFORE the sibling tables are touched, so a foreign
    or stripped index fails with the parameter rejection, not a
    missing-path error: a tokenizer or layout mismatch silently skews
    every score, and a wrong modulus hashes query terms to the wrong
    buckets."""
    postings = read_parquet(spark, f"{index_dir}/postings")
    stored = stored_params(postings, "tf", f"BM25 index at {index_dir!r}", BM25_SCHEME)
    return (
        postings,
        read_parquet(spark, f"{index_dir}/dfstats"),
        read_parquet(spark, f"{index_dir}/stats"),
        int(stored["n_buckets"]),
    )


def _bm25_query_buckets(
    query_terms: DataFrame,
    n_buckets: int,
    prune_buckets: list[int] | None,
) -> tuple[DataFrame, list[int] | None]:
    """The bucketed query side: distinct (query_id, term) + the term's
    bucket, with the loud prune-coverage guard (ADVICE r10) — a
    caller-supplied keep-list that misses a query term's bucket would
    silently delete that term's contribution from every score, so the
    broadcast-tiny query side raises at runtime on any uncovered
    bucket instead of trusting the list."""
    qdf = query_terms.select("query_id", "term").distinct()
    qb = qdf.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    if prune_buckets is None:
        return qb, None
    keep = sorted({int(b) for b in prune_buckets})
    # the WHEN only evaluates raise_error on offending rows
    qb = qb.filter(
        F.when(F.col("bucket").isin(keep), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("prune_buckets misses bucket "),
                    F.col("bucket").cast("string"),
                    F.lit(" required by query term '"),
                    F.col("term"),
                    F.lit("'"),
                )
            ).cast("boolean")
        )
    )
    return qb, keep


def _bm25_score_bucketed(
    postings: DataFrame,
    df_stats: DataFrame,
    n_docs: DataFrame,
    qb: DataFrame,
    k: int,
    id_col: str,
    exclude_query_doc: bool,
) -> DataFrame:
    """Score bucketed postings against the broadcast query side under
    the given (n, avgdl) — the ONE scoring definition behind the
    single-index and federated searches (idf round-6, per-term
    DECIMAL(12,6), per-doc exact decimal sum, ties by ``id_col``),
    bit-equal to the in-query :func:`bm25_topk_terms`."""
    scored = (
        postings.join(F.broadcast(qb), ["bucket", "term"])
        .join(
            F.broadcast(
                df_stats.join(
                    F.broadcast(qb.select("bucket", "term").distinct()),
                    ["bucket", "term"],
                )
            ),
            "term",
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_idf",
            F.floor(
                F.log(
                    (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        )
        .withColumn(
            "_s",
            pround(
                F.col("_idf")
                * (F.col("tf") * (K1 + 1))
                / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))),
                6,
                12,
            ),
        )
    )
    if exclude_query_doc:
        scored = scored.filter(F.col(id_col) != F.col("query_id"))
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.sum("_s").cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return per_doc.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def bm25_search_index(
    query_terms: DataFrame,
    index_dir: str,
    k: int = 5,
    id_col: str = "doc_id",
    exclude_query_doc: bool = False,
    prune_buckets: list[int] | None = None,
    verify_corpus: DataFrame | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """Search a PERSISTED BM25 index (:func:`bm25_build_index`) — no
    corpus tokenization anywhere in the plan: the broadcast (bucket,
    term) join against the bucket-partitioned postings prunes the scan
    to the query terms' buckets, df comes from the stored vocabulary
    table, and n/avgdl from the 1-row stats table. Scoring (idf
    round-6, per-term DECIMAL(12,6), per-doc exact decimal sum, ties by
    ``id_col``) is identical to the in-query :func:`bm25_topk_terms`,
    so results are bit-equal to re-tokenizing — the determinism the
    oracle relies on.

    Pruning physics: when ``query_terms`` derives from a FILTERED table
    (query-by-example), Catalyst inserts dynamic partition pruning on
    ``bucket`` automatically. When the query terms are driver-known
    literals, Spark will NOT insert DPP (a LocalRelation carries no
    selective predicate), so pass ``prune_buckets`` — the terms' bucket
    ids — and the scan gets a STATIC partition filter instead (resolved
    at planning, strictly better than DPP). ``prune_buckets`` must cover
    every query term's bucket: a keep-list that missed one would
    silently delete that term's contribution from every score (ADVICE
    r10), so the query side carries a per-row guard that raises at
    runtime on any uncovered bucket — one comparison per query term on
    the broadcast-tiny side, never touching the postings scan."""
    spark = query_terms.sparkSession
    postings, df_stats, stats, n_buckets = _bm25_read_validated(spark, index_dir)
    if verify_corpus is not None:
        # the OTHER staleness axis: parameters match but the corpus
        # mutated since the build — searching would score a snapshot
        # that no longer exists. Costs one corpus scan; pass it from
        # refresh orchestration, not per query (freshness.py).
        require_fresh(
            verify_corpus, f"{index_dir}/stats", id_col, verify_text_col,
            where=f"BM25 index at {index_dir!r}",
        )
    qb, keep = _bm25_query_buckets(query_terms, n_buckets, prune_buckets)
    if keep is not None:
        postings = postings.filter(F.col("bucket").isin(keep))
        df_stats = df_stats.filter(F.col("bucket").isin(keep))
    n_docs = stats.select(
        F.col("n_docs").alias("n"),
        (F.col("total_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    return _bm25_score_bucketed(
        postings, df_stats, n_docs, qb, k, id_col, exclude_query_doc
    )


def bm25_federated_search(
    query_terms: DataFrame,
    index_dirs: list[str],
    k: int = 5,
    id_col: str = "doc_id",
    exclude_query_doc: bool = False,
    prune_buckets: list[int] | None = None,
    verify_corpora: list[DataFrame] | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """Federated BM25 over PER-SHARD persisted inverted indexes
    (:func:`bm25_build_index` per disjoint document shard) — the lexical
    twin of :func:`~.similarity.ivfpq_federated_search`, with one
    crucial difference: the lexical federation is EXACT. BM25's only
    global state is (df, N, total_dl), all of which merge losslessly
    across disjoint shards (integer sums), so scoring every shard's
    postings under the MERGED statistics and rank-merging the per-doc
    scores is bit-equal to one monolithic index over the union — the
    single-index oracle is reused verbatim. The vector twin, by
    contrast, measurably pays a recall penalty for per-shard quantizer
    training (RECALL.json federated tiers, docs/BENCH_NOTES.md r11).

    Scale shape: each shard's postings scan stays bucket-pruned (the
    static ``prune_buckets`` filter or DPP, exactly as the single-index
    path); the vocabulary merge is a groupBy over shards ×
    query-term-bucket rows (broadcast-tiny — dfstats is pruned to the
    query buckets BEFORE the union); global stats is a union of 1-row
    tables; the per-doc score sum never crosses shards (disjoint ids)
    and the final top-k window is candidate-bounded. No corpus-sized
    work beyond the pruned postings reads — federation adds shards ×
    (query-bucket postings) I/O, not corpus I/O.

    Shards must share the bucket modulus (terms would otherwise hash to
    different buckets per shard) and partition the corpus (disjoint
    ``id_col`` — the same contract as the vector twin).

    Per-shard freshness (VERDICT r11 #7): pass ``verify_corpora`` — one
    live corpus DataFrame per shard, parallel to ``index_dirs`` — and
    every shard's stored fingerprint is checked before scoring; a
    mutated shard raises :class:`~.freshness.StaleIndexError` naming
    the stale shard directory, so only that shard needs
    :func:`bm25_build_index`."""
    if not index_dirs:
        raise ValueError("bm25_federated_search needs at least one shard index")
    if verify_corpora is not None:
        if len(verify_corpora) != len(index_dirs):
            raise ValueError(
                f"verify_corpora must parallel index_dirs "
                f"({len(verify_corpora)} != {len(index_dirs)})"
            )
        for d, shard_corpus in zip(index_dirs, verify_corpora):
            require_fresh(
                shard_corpus, f"{d}/stats", id_col, verify_text_col,
                where=f"federated shard index at {d!r}",
            )
    spark = query_terms.sparkSession
    shards = [_bm25_read_validated(spark, d) for d in index_dirs]
    mods = {nb for (_p, _d, _s, nb) in shards}
    if len(mods) != 1:
        raise ValueError(
            f"shards disagree on n_buckets ({sorted(mods)}); query terms would "
            "hash to different buckets per shard — rebuild with one modulus"
        )
    qb, keep = _bm25_query_buckets(query_terms, mods.pop(), prune_buckets)
    postings_parts, df_parts, stats_parts = [], [], []
    for p, d, s, _nb in shards:
        if keep is not None:
            p = p.filter(F.col("bucket").isin(keep))
            d = d.filter(F.col("bucket").isin(keep))
        postings_parts.append(p.select("term", id_col, "tf", "dl", "bucket"))
        df_parts.append(d.select("term", "df", "bucket"))
        stats_parts.append(s.select("n_docs", "total_dl"))
    postings = postings_parts[0]
    for p in postings_parts[1:]:
        postings = postings.unionByName(p)
    df_u = df_parts[0]
    for d in df_parts[1:]:
        df_u = df_u.unionByName(d)
    # disjoint shards ⇒ per-term document frequencies ADD exactly; the
    # merge input is already pruned to the query buckets (vocab-sized
    # at worst, query-bucket-sized with pruning)
    df_stats = df_u.groupBy("bucket", "term").agg(
        F.sum("df").cast("long").alias("df")
    )
    stats_u = stats_parts[0]
    for s in stats_parts[1:]:
        stats_u = stats_u.unionByName(s)
    n_docs = stats_u.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("total_dl").cast("long").alias("_tdl"),
    ).select(F.col("n"), (F.col("_tdl").cast("double") / F.col("n")).alias("avgdl"))
    return _bm25_score_bucketed(
        postings, df_stats, n_docs, qb, k, id_col, exclude_query_doc
    )


def bm25_prf_search_index(
    query_terms: DataFrame,
    index_dir: str,
    k: int = 5,
    fb_docs: int = 3,
    fb_terms: int = 5,
    id_col: str = "doc_id",
    prune_buckets: list[int] | None = None,
    verify_corpus: DataFrame | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval over the PERSISTED index —
    the deployment shape of :func:`bm25_prf_topk` (VERDICT r10 #3): both
    BM25 passes run :func:`bm25_search_index` against the stored
    postings/dfstats/stats, and the feedback-term mining joins the
    stored postings against the broadcast (queries × ``fb_docs``)
    first-pass winners — ZERO corpus tokenization anywhere in the plan.

    Scale shape: pass 1 is bucket-pruned exactly like any persisted
    search (``prune_buckets`` applies to the seed terms, which are
    driver-known); the mining is one broadcast-join scan of the postings
    filtered to the ≤ queries×fb_docs feedback docs (filter pushed to
    the scan; candidate-bounded output); pass 2's expansion terms are
    runtime values, so its (bucket, term) join relies on the bucketed
    layout's row-group locality rather than a static filter. Replacing
    the in-query twin's corpus tokenize (the dominant map cost at
    100 TB) with two index reads is the entire point.

    Deterministic twin of :func:`bm25_prf_topk`: the persisted search is
    bit-equal to in-query scoring, the mining aggregates the SAME
    (term, doc, tf) rows with the same tie rules (w desc, term asc), so
    the composition is bit-equal end-to-end — the in-query oracle is
    reused verbatim.

    ``verify_corpus`` (VERDICT r11 #7): the freshness check threads to
    the FIRST persisted search (one corpus scan, before any retrieval
    work) — pass 2 and the mining read the same stored artifacts, so
    one check covers the whole composition."""
    spark = query_terms.sparkSession
    qdf = query_terms.select("query_id", "term").distinct()
    first = bm25_search_index(
        qdf,
        index_dir,
        k=fb_docs,
        id_col=id_col,
        prune_buckets=prune_buckets,
        verify_corpus=verify_corpus,
        verify_text_col=verify_text_col,
    )
    postings = read_parquet(spark, f"{index_dir}/postings")
    fb = (
        postings.join(F.broadcast(first.select("query_id", id_col)), id_col)
        .groupBy("query_id", "term")
        .agg(F.sum("tf").alias("w"))
        .join(qdf, ["query_id", "term"], "left_anti")
    )
    wexp = Window.partitionBy("query_id").orderBy(F.desc("w"), F.asc("term"))
    expansion = (
        fb.withColumn("_r", F.row_number().over(wexp))
        .filter(F.col("_r") <= fb_terms)
        .select("query_id", "term")
    )
    q1 = qdf.unionByName(expansion).distinct()
    return bm25_search_index(q1, index_dir, k=k, id_col=id_col)


def rrf_fuse(
    ranked_lists: dict[str, DataFrame],
    k: int = 5,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    several per-query ranked candidate lists — the standard hybrid
    retrieval combiner (lexical BM25 + semantic ANN in a RAG stack; no
    score calibration needed because only RANKS enter the formula).

    ``ranked_lists`` maps a list label → DataFrame with (query_id,
    ``id_col``, rank) columns (rank 1-based, as produced by
    :func:`bm25_topk` / ``similarity.brute_force_topk``). Each candidate's
    fused score is Σ over lists of 1/(``rrf_k`` + rank), each term rounded
    to DECIMAL(12,6) (portable fixed-point) so the sum is exact and
    partition-order independent; ties break by ``id_col`` ascending.

    Output: (query_id, id_col, rrf_score double, in_<label> boolean per
    list, rank int), top-``k`` per query.

    Scale shape: the inputs are already top-k'd per query (candidate-
    bounded — queries × k rows each), so the union + group-by is
    candidate-sized, never corpus-sized; no corpus data is touched here
    at all. The per-query window runs over ≤ Σk candidates."""
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    labels = list(ranked_lists)
    parts = []
    for label, df in ranked_lists.items():
        sel = df.select(
            F.col("query_id"),
            F.col(id_col),
            pround(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank")), 6, 12).alias("_c"),
            *[F.lit(lb == label).alias(f"_in_{lb}") for lb in labels],
        )
        parts.append(sel)
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    fused = unioned.groupBy("query_id", id_col).agg(
        F.sum("_c").cast("double").alias("rrf_score"),
        *[F.max(f"_in_{lb}").alias(f"in_{lb}") for lb in labels],
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.asc(id_col))
    return fused.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def tfidf_doc_pairs(
    docs: DataFrame,
    k: int = 5,
    df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` most cosine-similar documents per document under tf-idf
    weighting — the classic all-pairs similarity search (Bayardo et al.,
    WWW 2007) as an inverted-index self-join. Distinct from
    :func:`bm25_topk` (few-query retrieval, real-valued relevance) and
    from the set-overlap families in ``operators.dedup`` (Jaccard/MinHash
    ignore term weights): tf-idf cosine ranks *weighted* lexical overlap,
    the standard first pass for topical near-dup and source-overlap
    analysis in corpus curation.

    Scale shape: one tokenize (``corpus_term_stats``'s shared explode);
    weights and per-doc L2 norms are doc-local aggregates; the pair join
    is term-keyed postings×postings with ``id_a < id_b``, so fan-out per
    term is df²/2 — ``df_cap`` drops terms above the cap (ubiquitous
    terms carry ~zero idf weight anyway), bounding the join exactly like
    ``ngram_jaccard_pairs``'s hot-shingle cap. Nothing ships document
    text past the first explode; the pair shuffle carries only
    (term, id, weight) triples.

    Determinism (cross-engine, partition-order independent) is by
    INTEGER fixed-point, not decimals: the tf-idf weight is quantized to
    ten-thousandths as an int64 (``wi``); the squared-norm sum and the
    pair dot product are exact int64 sums (order-free); the only
    floating-point steps are correctly-rounded single IEEE ops
    (int64→double conversion, one division, sqrt, ×10^s) that every
    engine computes bit-identically — no decimal→double cast whose
    last-ulp behavior could differ between engines at high scale.
    Smooth idf ``ln((n+1)/(df+1)) + 1`` is strictly positive, so every
    posting survives with nonzero weight; the round-6'd idf absorbs any
    last-ulp ``ln`` divergence (same argument as :func:`bm25_topk`).
    Int64 bounds: ``wi ≤ ~4·10^6`` ⇒ the norm sum holds ~5·10^5
    distinct terms per document; the dot product of unit vectors is ≤ 1
    ⇒ ``Σ ua·ub`` in billionths² stays ≤ ~10^18 by Cauchy-Schwarz.

    Output: (doc_a, doc_b, sim, rank) — for each ``doc_a``, its ``k``
    most similar other documents (both join orientations contribute,
    so the relation is symmetric); ties break on ascending doc_b.
    """
    postings, df_stats, _dl = corpus_term_stats(docs, text_col, id_col)
    if df_cap is not None:
        df_stats = df_stats.filter(F.col("df") <= df_cap)

    n_docs = docs.select(F.count("*").alias("n"))

    # idf round-6'd on the double (floor(x·1e6+0.5)/1e6), then the weight
    # quantized to int64 ten-thousandths — F.floor on a double is BIGINT
    idf6 = (
        F.floor(
            (
                F.log(
                    (F.col("n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                )
                + F.lit(1.0)
            )
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    weighted = (
        postings.join(df_stats, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "_wi",
            F.floor(
                (F.lit(1.0) + F.log(F.col("tf").cast("double")))
                * idf6
                * F.lit(1e4)
                + F.lit(0.5)
            ),
        )
        .select(id_col, "term", "_wi")
    )
    norms = weighted.groupBy(id_col).agg(
        F.sum(F.col("_wi") * F.col("_wi")).alias("_norm2i")
    )
    # unit weight in billionths: wi/sqrt(norm2i) == w/‖w‖ (the 1e4 scale
    # cancels); u ≤ 1 ⇒ ui ≤ 1e9
    # materialize the unit-weight table ONCE before the self-join: both
    # branches (and norms) otherwise re-derive the full tokenize→weight
    # subtree, multiplying the corpus scan per branch (plan-audited:
    # ~38 text scans without this, 1 with)
    unit = materialize(
        weighted.join(norms, id_col)
        .withColumn(
            "_ui",
            F.floor(
                F.col("_wi").cast("double")
                / F.sqrt(F.col("_norm2i").cast("double"))
                * F.lit(1e9)
                + F.lit(0.5)
            ),
        )
        .select(F.col(id_col).alias("_id"), "term", "_ui")
    )
    a = unit.select(
        F.col("_id").alias("doc_a"), F.col("term"), F.col("_ui").alias("_ua")
    )
    b = unit.select(
        F.col("_id").alias("doc_b"), F.col("term"), F.col("_ui").alias("_ub")
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_ua") * F.col("_ub")).alias("_dot"))
        .select(
            "doc_a",
            "doc_b",
            # dot is in billionths² (≤ ~1e18, exact int64); ONE division
            # + portable round-6 at the output boundary
            (
                F.floor(
                    F.col("_dot").cast("double") / F.lit(1e18) * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("sim"),
        )
    )
    # symmetrize so every doc ranks its neighbors regardless of id order
    sym = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"),
            F.col("doc_a").alias("doc_b"),
            "sim",
        )
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("sim"), F.asc("doc_b"))
    return sym.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search over the POSITIONAL index — the retrieval
    operation term-level BM25 cannot express (terms adjacent, in order).
    The phrase is tokenized with the corpus rule (TOKEN_SPLIT_RE — one
    source of truth, as with BM25 queries) and matched against positional
    n-gram occurrences (``dedup.gram_occurrences``), so the match is
    token-exact: punctuation/case differences between doc and query
    cannot break it, and "scan order" never matches "scan ordering".

    Output: (id, n_matches, first_pos) per matching doc, first_pos
    0-based in token space. Scale shape: the gram pipeline's one
    tokenize + per-doc window; the phrase filter pushes into the gram
    projection, so only matching grams reach the aggregate.
    """
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE
    from data_warehouse_punta_fina_spark.operators.dedup import gram_occurrences

    toks = [w for w in re.split(TOKEN_SPLIT_RE, phrase.lower()) if w]
    if not toks:
        raise ValueError("phrase contains no tokens under the corpus token rule")
    occ, _ = gram_occurrences(docs, text_col, id_col, n=len(toks))
    return (
        occ.filter(F.col("gram") == " ".join(toks))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.min("pos").cast("bigint").alias("first_pos"),
        )
    )


#: versioned fingerprint of the positional-index layout + tokenizer —
#: the BM25_SCHEME discipline. v2 (round-12, VERDICT r11 #1): positions
#: are stored as DELTA-ENCODED ARRAYS per (term, doc) posting instead of
#: one row per token occurrence — ~avgdl× fewer rows through the build
#: shuffle and on disk (the classic positional-postings layout, Manning
#: et al. IR book ch. 2/5 variable-gap encoding); a v1 row-per-token
#: index is rejected at search time, not silently mis-read.
POS_SCHEME = "pos-arr-tokenv2"


def _pos_postings(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(term, id, tf, positions) — positions ascending, DELTA-encoded
    (first element = absolute first position, subsequent = gap to the
    previous occurrence). One tokenize + one (term, doc) shuffle; the
    per-posting array is term-frequency-sized, so the sort/encode
    lambdas run over tiny arrays, never doc- or corpus-sized ones."""
    occ = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "term")
    )
    arr = F.sort_array(F.collect_list("pos"))
    grouped = occ.groupBy("term", id_col).agg(arr.alias("_abs"))
    deltas = F.zip_with(
        F.col("_abs"),
        F.concat(F.array(F.lit(0)), F.slice(F.col("_abs"), 1, F.size("_abs") - 1)),
        lambda x, y: x - y,
    )
    return grouped.select(
        "term",
        id_col,
        F.size("_abs").cast("int").alias("tf"),
        deltas.alias("positions"),
    )


def _decode_positions(col):
    """Absolute positions from a delta-encoded array — a running prefix
    sum (higher-order ``F.aggregate``, JVM-side, no UDF). REFERENCE
    DECODE ONLY: Catalyst arrays are immutable, so the per-step
    ``F.concat`` copies the accumulator — O(tf²) element copies per
    posting. Fine for layout tests over bounded fixtures; the search
    paths use :func:`_explode_positions` (linear in tf), because a
    pathological web document where one query term repeats 10⁴-10⁵
    times would turn this into a single-task straggler (VERDICT r12
    #1 — the hot-term property test pins the linear path at tf=10⁴)."""
    return F.aggregate(
        col,
        F.struct(
            F.lit(0).cast("int").alias("prev"),
            F.array().cast("array<int>").alias("acc"),
        ),
        lambda st, d: F.struct(
            (st["prev"] + d).alias("prev"),
            F.concat(st["acc"], F.array(st["prev"] + d)).alias("acc"),
        ),
        lambda st: st["acc"],
    )


def _explode_positions(postings: DataFrame, id_col: str) -> DataFrame:
    """(``id_col``, pos) occurrence rows from delta-encoded array
    postings of ONE term — the LINEAR-shape decode (VERDICT r12 #1):
    ``posexplode`` the delta array, then reconstruct absolute positions
    as a running ``sum(delta)`` windowed per posting. O(tf log tf) per
    posting (the window's in-partition sort) instead of the reference
    decode's O(tf²) array copies, so a hot-term pathological document
    (tf ≈ 10⁴-10⁵ — repeated boilerplate in a long web page) costs
    milliseconds, not a straggler task. The exchange this window adds
    is CANDIDATE-BOUNDED: its input is one query term's postings after
    bucket+term pruning, never corpus-sized — and each window partition
    is exactly one posting's tf rows (callers filter ``term ==
    literal`` first, so ``id_col`` alone identifies the posting)."""
    w = Window.partitionBy(id_col).orderBy("pos_idx")
    return (
        postings.select(
            F.col(id_col), F.posexplode("positions").alias("pos_idx", "delta")
        )
        .select(
            F.col(id_col),
            F.sum("delta").over(w).cast("int").alias("pos"),
        )
    )


def positional_build_index(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Persist the POSITIONAL index — the phrase/proximity complement of
    :func:`bm25_build_index` (that index stores (term, doc, tf): enough
    to rank, blind to WHERE terms sit; phrase search needs positions).
    Completes the persisted-artifact family: band index, NB model,
    IVF-PQ, BM25 postings, and positions.

    Layout under ``index_dir`` (v2, round-12 — VERDICT r11 #1):

    - ``positions/`` — (term, ``id_col``, tf, positions) ONE ROW PER
      (term, doc) POSTING with the occurrence positions as an ascending
      DELTA-ENCODED array (first element absolute, rest gaps — the
      classic variable-gap positional layout), partitioned by ``bucket =
      pmod(xxhash64(term), n_buckets)`` — a phrase query's terms are
      driver-known literals, so the search always gets a STATIC bucket
      filter (no DPP needed). vs the v1 row-per-token layout this sends
      ~avgdl× fewer rows through the build shuffle (measured the
      family's steepest build at 100×: 7.6× vs BM25's 2.5×) and stores
      ~avgdl× fewer rows; searches explode the tf-bounded arrays AFTER
      bucket+term pruning, so read-side work is still candidate-bounded;
    - ``stats/`` — 1 row: n_docs + the corpus content fingerprint
      (``operators/freshness.py``) so staleness is detectable
      (:func:`positional_index_is_fresh`, ``verify_corpus=``).

    The scheme + n_buckets ride as column metadata on ``tf`` (the BM25
    discipline); searches validate them (a tokenizer OR layout change
    silently breaks adjacency matching, so v1 indexes are rejected).
    One corpus-sized job: the tokenize + (term, doc) group-by
    shuffle-write into the bucketed layout."""
    postings = _pos_postings(docs, text_col, id_col)
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
    (
        postings.select(
            "term", id_col, stamp("tf", POS_SCHEME, n_buckets=n_buckets), "positions", bucket
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/positions")
    )
    (
        content_fingerprint(docs, id_col, text_col, count="n_docs")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/stats")
    )


def positional_compact_index(
    spark,
    src_index_dir: str,
    dst_index_dir: str,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Compact a STREAM-BUILT positional index into the batch shape —
    the positional twin of :func:`bm25_compact_index`: the maintenance
    stream leaves one ``ingest_batch=<id>`` partition per micro-batch
    (small files), and the stream writes no ``stats/`` (its staleness
    discipline is the checkpoint). Compaction rewrites the array
    postings bucket-only (one file per bucket) and — positions having
    NO global state — needs zero merging. Pass ``corpus`` (the indexed
    documents) to ESTABLISH the content fingerprint on the compacted
    copy, graduating the stream-built index into the freshness cycle
    (`positional_index_is_fresh` / batch appends); omit it and the
    compacted index stays searchable but fingerprint-less (stats/
    absent — is_fresh False, appends refused, exactly as for the
    stream-built source).

    ADVICE r12: ``corpus`` is cross-checked against the index before
    the fingerprint is stamped — its doc count must equal the distinct
    doc count in the compacted positions. Without this, a WRONG corpus
    would graduate a mismatched index to ``is_fresh=True`` and admit
    batch appends onto it. After the path swap, retire the superseded
    stream layout with ``operators.index_admin.retire_index_dir``."""
    positions, n_buckets = _pos_read_validated(spark, src_index_dir)
    id_cols = [
        c
        for c in positions.columns
        if c not in ("term", "tf", "positions", "bucket", "ingest_batch")
    ]
    if len(id_cols) != 1:
        raise ValueError(
            f"cannot identify the doc-id column in positions schema {positions.columns}"
        )
    src_id = id_cols[0]
    (
        positions.select(
            "term",
            src_id,
            stamp("tf", POS_SCHEME, n_buckets=n_buckets),
            "positions",
            "bucket",
        )
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{dst_index_dir}/positions")
    )
    if corpus is not None:
        # cheap sanity gate before blessing the fingerprint (ADVICE
        # r12): corpus doc count must equal the index's distinct doc
        # count — reads the just-compacted postings (one aggregate),
        # never re-tokenizes anything
        n_indexed = (
            read_parquet(spark, f"{dst_index_dir}/positions")
            .agg(F.countDistinct(src_id).alias("n"))
            .collect()[0]["n"]
        )
        n_corpus = corpus.count()
        if int(n_indexed) != int(n_corpus):
            raise ValueError(
                f"corpus passed to positional_compact_index has {n_corpus} docs "
                f"but the compacted index holds {n_indexed} distinct {src_id!r} "
                "values — stamping this fingerprint would graduate a MISMATCHED "
                "index to is_fresh=True and admit batch appends onto it. Pass "
                "the exact documents the index was built from."
            )
        (
            content_fingerprint(corpus, id_col, text_col, count="n_docs")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{dst_index_dir}/stats")
        )


def positional_index_is_fresh(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> bool:
    """The :func:`bm25_index_is_fresh` contract for the positional index
    (fingerprint in ``stats/``). A stream-built index writes no
    ``stats/`` — its staleness discipline is the checkpoint — so it
    reads False, as a missing index does."""
    return is_fresh(docs, f"{index_dir}/stats", id_col, text_col)


def _pos_read_validated(spark, index_dir: str) -> tuple[DataFrame, int]:
    """Read + validate one positional index (array layout): returns the
    positions table and the bucket modulus. The parameters ride on
    ``tf`` (the BM25 discipline); a v1 row-per-token or foreign index is
    rejected — a layout/tokenizer mismatch silently breaks adjacency
    matching, and a wrong modulus empties every result. Shared by the
    searches, the append and the compaction."""
    positions = read_parquet(spark, f"{index_dir}/positions")
    stored = stored_params(
        positions, "tf", f"positional index at {index_dir!r}", POS_SCHEME
    )
    return positions, int(stored["n_buckets"])


def _pos_term_occurrences(
    spark, positions: DataFrame, terms: list[str], n_buckets: int, id_col: str
) -> dict[str, DataFrame]:
    """Per-term absolute (``id_col``, pos) occurrence lists from the
    pruned array postings: ONE static bucket filter covering every query
    term (driver-known literals → partition filter at planning), then a
    per-term ``term == literal`` filter (pushed to the scan) and the
    linear-shape :func:`_explode_positions` decode. Each returned
    DataFrame is term-frequency-sized — never corpus-sized."""
    distinct = sorted(set(terms))
    term_df = literal_table(spark, [(t,) for t in distinct], "term string")
    keep = sorted(
        r["b"]
        for r in term_df.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    pruned = positions.filter(F.col("bucket").isin(keep))
    return {
        t: _explode_positions(pruned.filter(F.col("term") == t), id_col)
        for t in distinct
    }


def phrase_search_index(
    spark,
    index_dir: str,
    phrase: str,
    id_col: str = "doc_id",
    verify_corpus: DataFrame | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over the PERSISTED positional index — the
    deployment shape of :func:`phrase_search`: zero corpus tokenization
    in the plan; the scan reads ONLY the phrase terms' buckets (static
    partition filter — phrase terms are driver-known literals, so the
    bucket set is computed at planning, strictly better than DPP).

    Matching is the classic positional-intersection: occurrences of the
    first term are anchor positions; each subsequent term i must occur
    at anchor+i in the same doc, expressed as i equi-joins on
    (``id_col``, pos) between single-term position lists — each join
    side is one term's occurrence list (term-frequency-sized, never
    corpus-sized), and repeated phrase terms fall out naturally
    ("data data" anchors only where both offsets hold).

    Bit-equal to the in-query :func:`phrase_search` (same tokenizer rule
    on both corpus and phrase, same (id, n_matches, first_pos) output),
    so the in-query oracle is reused verbatim."""
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE

    toks = [w for w in re.split(TOKEN_SPLIT_RE, phrase.lower()) if w]
    if not toks:
        raise ValueError("phrase contains no tokens under the corpus token rule")
    positions, n_buckets = _pos_read_validated(spark, index_dir)
    if verify_corpus is not None:
        require_fresh(
            verify_corpus, f"{index_dir}/stats", id_col, verify_text_col,
            where=f"positional index at {index_dir!r}",
        )
    occ = _pos_term_occurrences(spark, positions, toks, n_buckets, id_col)
    anchors = occ[toks[0]].select(id_col, "pos")
    for i, t in enumerate(toks[1:], start=1):
        nxt = occ[t].select(F.col(id_col), (F.col("pos") - F.lit(i)).alias("pos"))
        anchors = anchors.join(nxt, [id_col, "pos"])
    return anchors.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min("pos").cast("bigint").alias("first_pos"),
    )


def phrase_slop_search_index(
    spark,
    index_dir: str,
    phrase: str,
    slop: int = 0,
    id_col: str = "doc_id",
    verify_corpus: DataFrame | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """SLOPPY phrase search over the persisted positional index — the
    standard middle ground between exact phrase match and bag-of-words
    (VERDICT r11 #6): the phrase's terms must appear IN ORDER, with at
    most ``slop`` intervening tokens between consecutive terms (gap
    ``p[i+1] − p[i] ∈ [1, 1+slop]``; ``slop=0`` degenerates to the exact
    phrase — bit-equal to :func:`phrase_search_index`, which a test
    gates). This ordered-window semantics is deliberately simpler than
    Lucene's edit-distance slop: it is exactly expressible as i range
    joins, and a DuckDB oracle can replay it with the same joins.

    Output: (``id_col``, n_matches, first_pos) — n_matches counts the
    DISTINCT position tuples (p₁ < … < pₙ) satisfying the gap rule
    (each chained join step picks a distinct next position, so tuples
    are enumerated exactly once), first_pos the smallest p₁ of any
    match, 0-based.

    Scale shape: the natural consumer of the array layout — one static
    bucket filter for all terms, per-term tf-bounded explodes, then
    n−1 equi-joins on ``id_col`` with a gap range predicate; per-doc
    fan-out is bounded by ∏tfᵢ over the matched terms, never
    corpus-sized. The gap predicate keeps the intermediate tuple set
    pruned at every step (a tuple dies as soon as one gap exceeds
    1+slop)."""
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE

    if slop < 0:
        raise ValueError("slop must be >= 0 intervening tokens")
    toks = [w for w in re.split(TOKEN_SPLIT_RE, phrase.lower()) if w]
    if not toks:
        raise ValueError("phrase contains no tokens under the corpus token rule")
    positions, n_buckets = _pos_read_validated(spark, index_dir)
    if verify_corpus is not None:
        require_fresh(
            verify_corpus, f"{index_dir}/stats", id_col, verify_text_col,
            where=f"positional index at {index_dir!r}",
        )
    occ = _pos_term_occurrences(spark, positions, toks, n_buckets, id_col)
    chain = occ[toks[0]].select(
        F.col(id_col), F.col("pos").alias("_first"), F.col("pos").alias("_prev")
    )
    for t in toks[1:]:
        nxt = occ[t].select(F.col(id_col), F.col("pos").alias("_next"))
        chain = (
            chain.join(nxt, id_col)
            .filter(
                (F.col("_next") > F.col("_prev"))
                & (F.col("_next") - F.col("_prev") <= 1 + slop)
            )
            .select(F.col(id_col), F.col("_first"), F.col("_next").alias("_prev"))
        )
    return chain.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min("_first").cast("bigint").alias("first_pos"),
    )


def proximity_search_index(
    spark,
    index_dir: str,
    term_a: str,
    term_b: str,
    window: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Proximity search over the PERSISTED positional index: documents
    where ``term_a`` and ``term_b`` co-occur within ``window`` tokens —
    the retrieval predicate between bag-of-words BM25 (blind to
    positions) and exact phrase match (adjacency only), and the
    standard "terms in the same context" filter for topical curation.

    Output: (``id_col``, n_pairs, min_dist) — n_pairs counts (pos_a,
    pos_b) occurrence pairs with |pos_a − pos_b| ≤ window, min_dist the
    closest such pair. Distances are position differences, so the
    result is identical under 0- or 1-based token numbering (what lets
    the DuckDB oracle use 1-based list positions).

    Scale shape: both join sides are ONE term's occurrence list (the
    static bucket filter prunes the scan to the two terms' buckets —
    driver-known literals, same as :func:`phrase_search_index`), and
    the per-doc pair fan-out is tf_a × tf_b — bounded by per-doc term
    frequency, never corpus-sized. Same-term proximity is rejected
    (use :func:`phrase_search_index` or per-term stats instead; the
    symmetric self-join would double-count every pair)."""
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE

    norm = lambda s: [w for w in re.split(TOKEN_SPLIT_RE, s.lower()) if w]
    ta, tb = norm(term_a), norm(term_b)
    if len(ta) != 1 or len(tb) != 1:
        raise ValueError("proximity terms must each be a single corpus token")
    (ta,), (tb,) = ta, tb
    if ta == tb:
        raise ValueError("same-term proximity is ill-defined (every pair counts "
                         "twice under the symmetric join) — use phrase_search_index")
    if window < 1:
        raise ValueError("window must be >= 1 token")
    positions, n_buckets = _pos_read_validated(spark, index_dir)
    occ = _pos_term_occurrences(spark, positions, [ta, tb], n_buckets, id_col)
    pa = occ[ta].select(F.col(id_col), F.col("pos").alias("_pa"))
    pb = occ[tb].select(F.col(id_col), F.col("pos").alias("_pb"))
    pairs = (
        pa.join(pb, id_col)
        .withColumn("_d", F.abs(F.col("_pa") - F.col("_pb")))
        .filter(F.col("_d") <= window)
    )
    return pairs.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("_d").cast("bigint").alias("min_dist"),
    )


def cooccurrence_search_index(
    spark,
    index_dir: str,
    terms: list[str],
    window: int = 12,
    id_col: str = "doc_id",
    verify_corpus: DataFrame | None = None,
    verify_text_col: str = "text",
) -> DataFrame:
    """N-term within-window co-occurrence over the persisted positional
    index: documents where ALL ``terms`` appear (in ANY order) within a
    span of ``window`` tokens — the unordered complement of
    :func:`phrase_slop_search_index` (which requires order), and the
    standard "these concepts in the same context" predicate for topical
    curation when term order is irrelevant.

    A match is a distinct position tuple (p₁ … pₙ), one position per
    term, with ``max(p) − min(p) ≤ window``. Output: (``id_col``,
    n_matches, min_span) — n_matches counts distinct tuples, min_span
    the tightest span of any match (identical under 0-/1-based
    numbering: only differences reach the output, the proximity-oracle
    property).

    Scale shape: one static bucket filter covering all terms; per-term
    tf-bounded explodes; n−1 equi-joins on ``id_col``, each carrying
    the span predicate against the RUNNING min/max so a tuple dies as
    soon as its span exceeds the window (the intermediate set never
    exceeds the final fan-out by more than one term's tf factor).
    Duplicate terms are rejected (a repeated term's tuples would pair a
    position with itself; phrase/slop handle repeats positionally)."""
    import re

    from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE

    norm: list[str] = []
    for t in terms:
        ws = [w for w in re.split(TOKEN_SPLIT_RE, t.lower()) if w]
        if len(ws) != 1:
            raise ValueError(
                f"co-occurrence terms must each be a single corpus token, got {t!r}"
            )
        norm.append(ws[0])
    if len(norm) < 2:
        raise ValueError("co-occurrence needs at least two terms")
    if len(set(norm)) != len(norm):
        raise ValueError(
            "duplicate co-occurrence terms are ill-defined (a tuple would pair "
            "a position with itself) — use phrase/slop search for repeats"
        )
    if window < 1:
        raise ValueError("window must be >= 1 token")
    positions, n_buckets = _pos_read_validated(spark, index_dir)
    if verify_corpus is not None:
        require_fresh(
            verify_corpus, f"{index_dir}/stats", id_col, verify_text_col,
            where=f"positional index at {index_dir!r}",
        )
    occ = _pos_term_occurrences(spark, positions, norm, n_buckets, id_col)
    chain = occ[norm[0]].select(
        F.col(id_col), F.col("pos").alias("_lo"), F.col("pos").alias("_hi")
    )
    for t in norm[1:]:
        nxt = occ[t].select(F.col(id_col), F.col("pos").alias("_p"))
        chain = (
            chain.join(nxt, id_col)
            .withColumn("_lo", F.least(F.col("_lo"), F.col("_p")))
            .withColumn("_hi", F.greatest(F.col("_hi"), F.col("_p")))
            .filter(F.col("_hi") - F.col("_lo") <= window)
            .select(F.col(id_col), "_lo", "_hi")
        )
    return chain.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min(F.col("_hi") - F.col("_lo")).cast("bigint").alias("min_span"),
    )


def positional_append_index(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append a document batch to a persisted positional index — O(batch)
    by construction: positions are PER-DOC (no global statistics at
    all, unlike BM25's df/avgdl), so ingestion is exactly one tokenize
    + (term, doc) group-by of the new batch appended into the bucketed
    layout plus the O(1) fingerprint merge (``operators/freshness.py``;
    disjoint-id append contract). An appended index is trivially
    identical to a full rebuild over the union — disjoint ids mean the
    batch's (term, doc) postings are complete arrays landing in the
    same bucket partitions a rebuild would put them in."""
    spark = new_docs.sparkSession
    _positions, n_buckets = _pos_read_validated(spark, index_dir)
    if not data_entries(spark, f"{index_dir}/stats"):
        # ADVICE r11: a stream-built index (positional_stream writes no
        # stats — its staleness discipline is the checkpoint) must fail
        # loudly with the remedy, not a raw path error
        raise ValueError(
            f"positional index at {index_dir!r} has no stats/ table — a "
            "stream-built index cannot take batch appends (its fingerprint "
            "discipline is the stream checkpoint; keep feeding the stream), "
            "and a missing index needs positional_build_index first."
        )
    old = read_parquet(spark, f"{index_dir}/stats").collect()[0]
    merged = merge_fingerprints(
        fingerprint_of(old), live_fingerprint(new_docs, id_col, text_col)
    )
    postings = _pos_postings(new_docs, text_col, id_col)
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
    (
        postings.select(
            "term",
            id_col,
            stamp("tf", POS_SCHEME, n_buckets=n_buckets),
            "positions",
            bucket,
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/positions")
    )
    stats_df = spark.range(1).select(*fingerprint_columns(merged, count="n_docs"))
    stats_df.coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/stats")
