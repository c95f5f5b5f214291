"""Lexical and hybrid retrieval: BM25 (in-query, persisted, incremental,
maintained, compacted, federated), PRF, phrase/proximity search and RRF."""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.text import TOKEN_SPLIT_RE as _TSR
from data_warehouse_punta_fina_spark.operators.materialize import build_concurrently, materialize
from data_warehouse_punta_fina_spark.operators.retrieval import query_terms
from data_warehouse_punta_fina_spark.operators.similarity import brute_force_topk
from data_warehouse_punta_fina_spark.registry.shared import (
    _QUANT_VEC,
    _R6D,
    _TOKENS,
    _cosine_sql,
    _data_fingerprint,
    _index_cache_dir,
    _ivfpq_topk_sql,
    _kmeans_cells_sql,
    _maintained_drain,
    _prefix_ctes,
    _r6,
    query,
    sql_of,
)
from data_warehouse_punta_fina_spark.sources.readers import load_table


# fixed BM25 query set (query_id, query_text) — vocabulary drawn from the
# synthetic corpus's word list so every term has a non-trivial posting list
_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark window agg"),
    (2, "hash join fast"),
    (3, "customer order data"),
    (4, "stream batch merge sort"),
]

_BM25_Q = " UNION ALL ".join(
    f"SELECT {qid} AS query_id, '{t}' AS term"
    for qid, qtext in _BM25_QUERIES
    # mirror operators.retrieval.query_terms' normalization via the
    # SAME shared regex (single source of truth with the corpus tokenizer)
    for t in dict.fromkeys(w for w in _re.split(_TSR, qtext.lower()) if w)
)


def _bm25_queries(spark: SparkSession) -> tuple[DataFrame, list[int]]:
    """The fixed query set as (query_id, term) rows, and the sorted
    16-bucket index partitions its terms hash to. Driver-known literal
    queries get a STATIC bucket filter (DPP needs a selective predicate
    the LocalRelation lacks); the collect is metadata-sized (≤ n_buckets
    ints from ~40 literal terms — the index-router lookup every search
    engine does)."""
    qdf = query_terms(spark, _BM25_QUERIES)
    buckets = sorted(
        r["b"]
        for r in qdf.select(
            F.pmod(F.xxhash64("term"), F.lit(16)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    )
    return qdf, buckets


_BM25_S = (
    "(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
)


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS ({_BM25_Q}),
scored AS (
  SELECT q.query_id, p.doc_id,
         CAST({_r6(_BM25_S.replace("idf", "FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000"))} AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
FROM per_doc QUALIFY rank <= 5
""")
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Okapi BM25 lexical retrieval: fixed query set, top-5 per query.
    # inverted-index join with broadcast query terms (operators.retrieval)
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(_spread(docs), _BM25_QUERIES, k=5)


# Hybrid RRF retrieval: the doc_bm25_topk CTE chain with the query
# side drawn from documents 1-4's own tokens (query-by-example, self
# excluded, top-20), the ann_brute_topk cosine chain over the same
# query ids (top-20), fused by reciprocal rank 1/(60+rank) — each
# contribution round-6'd to DECIMAL(12,6) so the fused sum is exact,
# ties by doc_id, final top-5 per query.
@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id IN (1, 2, 3, 4)),
lexscored AS (
  SELECT q.query_id, p.doc_id,
         CAST({_r6(_BM25_S.replace("idf", "FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000"))} AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
  WHERE p.doc_id <> q.query_id
),
lexdoc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM lexscored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM lexdoc QUALIFY rank <= 20
),
eq AS (SELECT vec_id AS query_id, {_QUANT_VEC} AS qv FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
ec AS (SELECT vec_id, {_QUANT_VEC} AS cv FROM embeddings),
semscored AS (
  SELECT eq.query_id, ec.vec_id AS doc_id, {_cosine_sql("eq.qv", "ec.cv")} AS cosine
  FROM eq, ec WHERE ec.vec_id <> eq.query_id
),
sem AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
  FROM semscored QUALIFY rank <= 20
),
contrib AS (
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         TRUE AS in_lex, FALSE AS in_sem FROM lex
  UNION ALL
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         FALSE AS in_lex, TRUE AS in_sem FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
         MAX(in_lex) AS in_lex, MAX(in_sem) AS in_sem
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, in_lex, in_sem, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 5
""")
def doc_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-9 debut: hybrid retrieval — BM25 lexical + exact-cosine
    # semantic candidates fused by reciprocal-rank fusion (Cormack
    # 2009), the standard RAG retrieval combiner. Query-by-example:
    # docs 1-4 are the queries (their tokens feed BM25 via a
    # DataFrame — no driver collect; their embeddings feed the
    # semantic side), self-matches excluded, top-20 candidates per
    # list, rrf_k=60, final top-5. Semantic coverage is PARTIAL at
    # sf0.1 (embeddings cover 2000 of 5000 docs) — exactly the
    # production shape where the lexical index is fuller than the
    # vector index, which is what RRF exists to absorb.
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_topk_terms,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3, 4]
    qterms = (
        docs.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    lex = bm25_topk_terms(
        _spread(docs), qterms, k=20, exclude_query_doc=True
    ).select("query_id", "doc_id", "rank")
    sem = brute_force_topk(emb, emb.filter(F.col("vec_id").isin(qids)), k=20).select(
        F.col("query_id"), F.col("neighbor_id").alias("doc_id"), F.col("rank")
    )
    return rrf_fuse({"lex": lex, "sem": sem}, k=5, rrf_k=60)


# Scale-path hybrid: same BM25 lexical chain, semantic candidates
# from the trained-IVF cells (nprobe=3, the _kmeans_cells_sql chain),
# identical RRF fusion. CTE namespaces are disjoint by construction
# (bm25: toks/postings*/dfs/nd/q/lex*; kmeans: v/c*/d*/a*/u*/df/af).
_kparts = ",\n".join(_kmeans_cells_sql(16, 2))


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id IN (1, 2, 3, 4)),
lexscored AS (
  SELECT q.query_id, p.doc_id,
         CAST({_r6(_BM25_S.replace("idf", "FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000"))} AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
  WHERE p.doc_id <> q.query_id
),
lexdoc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM lexscored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM lexdoc QUALIFY rank <= 20
),
{_kparts},
qf AS (
  SELECT vec_id AS query_id, qv, cid FROM df WHERE vec_id IN (1, 2, 3, 4)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) <= 3
),
semscored AS (
  SELECT qf.query_id, af.vec_id AS doc_id, {_cosine_sql("qf.qv", "af.qv")} AS cosine
  FROM qf JOIN af ON qf.cid = af.cid AND af.vec_id <> qf.query_id
),
sem AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rank
  FROM semscored QUALIFY rank <= 20
),
contrib AS (
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         TRUE AS in_lex, FALSE AS in_sem FROM lex
  UNION ALL
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         FALSE AS in_lex, TRUE AS in_sem FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
         MAX(in_lex) AS in_lex, MAX(in_sem) AS in_sem
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, in_lex, in_sem, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 5
""")
def doc_hybrid_rrf_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-9 debut: the SCALE PATH of the hybrid — identical RRF
    # fusion, but the semantic candidates come from the trained-IVF
    # quantizer (16 cells, nprobe=3: probe cells, never the corpus)
    # instead of the brute-force scan. At 100 TB this is the shape
    # that runs: the brute twin (doc_hybrid_rrf_search) is the
    # recall ceiling it trades against.
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_topk_terms,
        rrf_fuse,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivf_trained_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3, 4]
    qterms = (
        docs.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    # round-16 (guide §2.6, VERDICT r15 #4): the lexical and semantic
    # legs are independent until the fuse, but the IVF leg's k-means
    # training executes synchronously at construction (AQE compiles
    # its materialization), serializing it BEFORE the lexical leg's
    # tokenize ran in the final action. Build both legs in parallel
    # driver threads, each ending in a lazy materialize so its stage
    # chain runs inside its thread; results are unchanged (the legs'
    # plans are identical, only the wall-clock interleaving moves).
    lex, sem = build_concurrently(
        [
            lambda: materialize(
                bm25_topk_terms(
                    _spread(docs), qterms, k=20, exclude_query_doc=True
                ).select("query_id", "doc_id", "rank")
            ),
            lambda: materialize(
                ivf_trained_topk(
                    emb,
                    emb.filter(F.col("vec_id").isin(qids)),
                    k=20,
                    n_centroids=16,
                    iters=2,
                    probes=3,
                ).select(
                    F.col("query_id"),
                    F.col("neighbor_id").alias("doc_id"),
                    F.col("rank"),
                )
            ),
        ]
    )
    return rrf_fuse({"lex": lex, "sem": sem}, k=5, rrf_k=60)


# Deployment-shape hybrid: same BM25 lexical chain, semantic
# candidates from the IVF-PQ chain (training is RNG-free, so the
# persisted-index search the Spark side runs is bit-identical to
# this in-query unroll with the same parameters — the
# ann_ivfpq_persisted_topk precedent). The _ivfpq_topk_sql parts
# keep a disjoint namespace (v/c*/df/af + p*-prefixed PQ CTEs +
# pqv/qs/lut/approx/cand/exact) next to the BM25 chain's
# toks/postings*/dfs/nd/q/lex*.
_pqsem = ",\n".join(
    _ivfpq_topk_sql(
        n_cells=16,
        probes=6,
        m=8,
        n_centroids=8,
        iters=2,
        rerank=40,
        query_filter="vec_id IN (1, 2, 3, 4)",
        parts_only=True,
    )
)


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id IN (1, 2, 3, 4)),
lexscored AS (
  SELECT q.query_id, p.doc_id,
         CAST({_r6(_BM25_S.replace("idf", "FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000"))} AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
  WHERE p.doc_id <> q.query_id
),
lexdoc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM lexscored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM lexdoc QUALIFY rank <= 20
),
{_pqsem},
sem AS (
  SELECT query_id, neighbor_id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM exact QUALIFY rank <= 20
),
contrib AS (
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         TRUE AS in_lex, FALSE AS in_sem FROM lex
  UNION ALL
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         FALSE AS in_lex, TRUE AS in_sem FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
         MAX(in_lex) AS in_lex, MAX(in_sem) AS in_sem
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, in_lex, in_sem, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 5
""")
def doc_hybrid_rrf_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 debut (VERDICT r9 #2): the DEPLOYMENT shape of the
    # hybrid — identical RRF fusion, but the semantic side probes
    # the PERSISTED IVF-PQ index (the SAME durable artifact
    # ann_ivfpq_persisted_topk builds and caches: coarse centroids +
    # PQ codebooks + cid-partitioned codes), so at 100 TB the hybrid
    # runs with NO training job and no corpus-wide vector scan
    # anywhere in the plan: BM25 joins broadcast query terms against
    # the postings, the semantic side reads only the probed cells'
    # codes (dynamic partition pruning on the cid-partitioned codes
    # table) and reranks 40 exact vectors per query. probes=6 /
    # rerank=40 are SEARCH-time knobs — the same persisted artifact
    # serves ann_ivfpq_persisted_topk at p4/r30; tuned so the fused
    # top-5 overlaps the brute twin 18/20 at sf0.01
    # (docs/BENCH_NOTES.md). One index, many query workloads — the
    # fusion stays candidate-bounded (queries × k rows per list).
    # Training is RNG-free, so the oracle is the in-query
    # _ivfpq_topk_sql chain with the query filter swapped in.
    import os

    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_topk_terms,
        rrf_fuse,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_search_index,
    )

    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    fp = _data_fingerprint(sf_dir, "embeddings")
    idx = _index_cache_dir("ivfpq", f"c16_m8_k8_i2_{fp}")
    if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
        ivfpq_build_index(load_table(spark, sf_dir, "embeddings"), idx, **params)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3, 4]
    qterms = (
        docs.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    lex = bm25_topk_terms(
        _spread(docs), qterms, k=20, exclude_query_doc=True
    ).select("query_id", "doc_id", "rank")
    sem = ivfpq_search_index(
        emb.filter(F.col("vec_id").isin(qids)),
        emb,
        idx,
        k=20,
        probes=6,
        rerank=40,
        **params,
    ).select(F.col("query_id"), F.col("neighbor_id").alias("doc_id"), F.col("rank"))
    return rrf_fuse({"lex": lex, "sem": sem}, k=5, rrf_k=60)


# PRF query expansion: the doc_bm25_topk chain run twice — pass 1
# takes top-3 per query, the 5 highest-tf NEW terms of that feedback
# set union into the query, pass 2 re-scores (ties: docs by doc_id,
# terms by term asc — mirrors operators/retrieval.bm25_prf_topk)
_bm25_scored = (
    "SELECT {q}.query_id, p.doc_id, "
    f"CAST({_r6(_BM25_S.replace('idf', 'FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000'))} AS DECIMAL(12,6)) AS s "
    "FROM postings p JOIN {q} USING (term) JOIN dfs USING (term) CROSS JOIN nd"
)


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q0 AS ({_BM25_Q}),
scored0 AS ({_bm25_scored.format(q="q0")}),
pd0 AS (SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored0 GROUP BY query_id, doc_id),
lex0 AS (
  SELECT query_id, doc_id FROM pd0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) <= 3
),
fbt AS (
  SELECT l.query_id, p.term, SUM(p.tf) AS w
  FROM postings p JOIN lex0 l ON p.doc_id = l.doc_id
  WHERE NOT EXISTS (
    SELECT 1 FROM q0 WHERE q0.query_id = l.query_id AND q0.term = p.term)
  GROUP BY l.query_id, p.term
),
expn AS (
  SELECT query_id, term FROM fbt
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY w DESC, term) <= 5
),
q AS (SELECT query_id, term FROM q0 UNION SELECT query_id, term FROM expn),
scored AS ({_bm25_scored.format(q="q")}),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
FROM per_doc QUALIFY rank <= 5
""")
def doc_bm25_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 extra: pseudo-relevance-feedback query expansion
    # (Rocchio/RM3 family) — first-pass BM25 top-3, the 5 most
    # frequent NEW terms of the feedback set widen the query, second
    # pass re-scores; one corpus tokenize feeds both passes
    # (operators/retrieval.bm25_prf_topk; unrolled two-pass oracle)
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import bm25_prf_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_prf_topk(_spread(docs), _BM25_QUERIES, k=5, fb_docs=3, fb_terms=5)


# round-11: PRF over the persisted index is the deterministic twin of
# the in-query PRF (both passes + mining are bit-equal to tokenizing —
# the persisted-search determinism argument), so the oracle is reused
@query(sql_of("doc_bm25_prf_search"))
def doc_bm25_prf_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 debut (VERDICT r10 #3): PRF composed ONTO the
    # persisted inverted index — both BM25 passes and the
    # feedback-term mining read the stored postings
    # (operators/retrieval.bm25_prf_search_index), zero corpus
    # tokenization at query time. Deterministic twin of
    # doc_bm25_prf_search, so its unrolled two-pass oracle is
    # reused verbatim. Pass 1 gets the seed terms' static bucket
    # filter (same index-router collect as doc_bm25_persisted_topk).
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_prf_search_index,
    )

    idx = _bm25_index_dir(spark, sf_dir)
    qdf, buckets = _bm25_queries(spark)
    return bm25_prf_search_index(
        qdf, idx, k=5, fb_docs=3, fb_terms=5, prune_buckets=buckets
    )


def _bm25_index_dir(spark: SparkSession, sf_dir: str) -> str:
    # build-once-per-corpus-fingerprint persisted inverted index
    # (operators/retrieval.bm25_build_index); stats/ is written last,
    # so its _SUCCESS marks a complete build
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("bm25", f"b16_{fp}")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        bm25_build_index(
            _spread(load_table(spark, sf_dir, "documents")), idx, n_buckets=16
        )
    return idx


# persisted BM25 inverted-index search is bit-equal to in-query
# tokenization (deterministic scoring, versioned BM25_SCHEME), and the
# fully-persisted hybrid equals the persisted-IVFPQ hybrid (its lex
# side is that same identity) — reuse both oracles verbatim
@query(sql_of("doc_bm25_topk"))
def doc_bm25_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 debut: BM25 over the PERSISTED inverted index — the
    # lexical twin of ann_ivfpq_persisted_topk. At 100 TB the word
    # count (the only corpus-sized shuffle in retrieval) runs once
    # per snapshot; every search is a broadcast (bucket, term) join
    # that DPP-prunes the bucket-partitioned postings to the query
    # terms' buckets. Deterministic scoring means the stored-index
    # search is bit-equal to in-query tokenization — the oracle is
    # doc_bm25_topk's SQL verbatim.
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_search_index,
    )

    idx = _bm25_index_dir(spark, sf_dir)
    qdf, buckets = _bm25_queries(spark)
    return bm25_search_index(qdf, idx, k=5, prune_buckets=buckets)


@query(sql_of("doc_bm25_topk"))
def doc_bm25_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 extra (r11 promotion candidate): the APPEND path of
    # the persisted inverted index — build on the even-id half,
    # append the odd half (operators/retrieval.bm25_append_index:
    # only the new batch is tokenized; vocabulary + stats
    # re-aggregate from stored postings, no corpus re-tokenize), and
    # search the union. BM25's globals (df/avgdl/n) are re-derived
    # exactly, so appended == full rebuild and doc_bm25_topk's
    # oracle is reused verbatim.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_search_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("bm25_inc", f"b16_{fp}")
    if not os.path.exists(os.path.join(idx, "_APPENDED")):
        docs = _spread(load_table(spark, sf_dir, "documents"))
        bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=16)
        bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), idx)
        with open(os.path.join(idx, "_APPENDED"), "w") as fh:
            fh.write("ok")
    qdf, buckets = _bm25_queries(spark)
    return bm25_search_index(qdf, idx, k=5, prune_buckets=buckets)


# round-12: the stream-MAINTAINED index merges df/N/total_dl exactly
# per micro-batch (epoched, replay-idempotent), so its search is
# bit-equal to one monolithic build — same oracle again
@query(sql_of("doc_bm25_topk"))
def doc_bm25_maintained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12 debut (VERDICT r11 #4): the BM25 index-MAINTENANCE
    # stream — documents drained through a real availableNow
    # Structured Streaming query whose every micro-batch lands in
    # the index via the O(batch ∪ vocab) append algebra under
    # EPOCHED global state (streaming/bm25_stream.
    # bm25_maintenance_batch: a replayed batch re-derives
    # df/N/total_dl/fingerprint from the epoch below it — bit-equal,
    # never double-merged). df/N/total_dl merge exactly over the
    # disjoint batches, so searching the maintained index is
    # bit-equal to one monolithic build — doc_bm25_topk's oracle is
    # reused verbatim.
    from functools import partial

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("bm25_maint", f"b16_{fp}")
    docs = load_table(spark, sf_dir, "documents")
    with _maintained_drain(
        idx, docs, "doc_id", partial(bm25_maintenance_batch, index_dir=idx, n_buckets=16)
    ):
        pass  # no state to lay before the drain
    qdf, buckets = _bm25_queries(spark)
    return bm25_search_index(qdf, idx, k=5, prune_buckets=buckets)


# round-13 (VERDICT r12 #2): COMPACTION changes layout, not content —
# postings/dfstats/stats carried verbatim into the one-file-per-bucket
# shape — so the compacted search is bit-equal to the same monolithic
# build. Oracle reused verbatim.
@query(sql_of("doc_bm25_topk"))
def doc_bm25_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 debut (VERDICT r12 #2): search over a COMPACTED BM25
    # index — the driver-gate exposure of the compaction triptych.
    # The index is built on the even-id half then APPENDED with the
    # odd half (each append adds a file set per touched bucket —
    # the small-file fragmentation a long-lived index accumulates),
    # then operators/retrieval.bm25_compact_index rewrites it ONE
    # file per bucket (src→dst, the lakehouse cut-over shape),
    # carrying dfstats/stats + the content fingerprint verbatim.
    # Compaction changes LAYOUT, not content, so the search is
    # bit-equal to a monolithic build — doc_bm25_topk's oracle is
    # reused verbatim (the doc_bm25_incremental_topk discipline).
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_compact_index,
        bm25_search_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    root = _index_cache_dir("bm25_comp", f"b16_{fp}")
    idx = os.path.join(root, "compacted")
    if not os.path.exists(os.path.join(root, "_COMPACTED")):
        src = os.path.join(root, "src")
        docs = _spread(load_table(spark, sf_dir, "documents"))
        bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), src, n_buckets=16)
        bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), src)
        bm25_compact_index(spark, src, idx)
        with open(os.path.join(root, "_COMPACTED"), "w") as fh:
            fh.write("ok")
    qdf, buckets = _bm25_queries(spark)
    return bm25_search_index(qdf, idx, k=5, prune_buckets=buckets)


# round-11: federated BM25 merges df/N/total_dl EXACTLY across
# disjoint shards (integer sums), so per-shard scoring under merged
# stats is bit-equal to the monolithic index — the single-index
# oracle is the federated oracle
@query(sql_of("doc_bm25_topk"))
def doc_bm25_federated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 debut: SHARDED lexical indexing — the BM25 twin of
    # ann_ivfpq_federated_topk, with the property the vector side
    # lacks: federation is EXACT. Each shard (even/odd doc ids)
    # builds its OWN persisted inverted index; the search merges
    # the shards' global stats losslessly (df/N/total_dl are sums
    # over disjoint doc sets) and scores every shard's bucket-pruned
    # postings under the merged stats
    # (operators/retrieval.bm25_federated_search), bit-equal to one
    # monolithic index — so doc_bm25_topk's oracle is reused
    # verbatim. Contrast measured in RECALL.json: the vector
    # federation pays a per-shard-training recall penalty; the
    # lexical one provably cannot.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_federated_search,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    shards = []
    for i in range(2):
        idx = _index_cache_dir("bm25_fed", f"b16_{fp}_s{i}")
        if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
            docs = _spread(load_table(spark, sf_dir, "documents"))
            bm25_build_index(
                docs.filter(F.col("doc_id") % 2 == i), idx, n_buckets=16
            )
        shards.append(idx)
    qdf, buckets = _bm25_queries(spark)
    return bm25_federated_search(qdf, shards, k=5, prune_buckets=buckets)


# round-11: graded retrieval evaluation — nDCG@5 + MRR of the BM25
# ranking against derived qrels (grade = # distinct query terms in
# the doc). Per-position discounted gains are round-6'd to
# DECIMAL(12,6) before the per-query sum (the BM25-idf exactness
# discipline: pow/log2 last-ulp divergence absorbed by the round,
# decimal sums partition-order independent); ideal ordering ties by
# doc_id so IDCG is deterministic.
_GAIN6 = (
    "CAST(FLOOR((POW(2.0, grade) - 1.0) / LOG2(CAST({r} AS DOUBLE) + 1.0)"
    " * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6))"
)


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS ({_BM25_Q}),
scored AS (
  SELECT q.query_id, p.doc_id,
         CAST(CAST(FLOOR(((FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000 * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))) * 1000000 + 0.5) / 1000000 AS DECIMAL(12,6)) AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
),
per_doc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM scored GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM per_doc QUALIFY rank <= 5
),
qrels AS (
  SELECT q.query_id, t.doc_id, CAST(COUNT(*) AS INT) AS grade
  FROM (SELECT DISTINCT doc_id, term FROM toks) t JOIN q USING (term)
  GROUP BY 1, 2
),
got AS (
  SELECT r.query_id, r.rank, COALESCE(qr.grade, 0) AS grade
  FROM ranked r LEFT JOIN qrels qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
),
dcg AS (
  SELECT query_id, SUM({_GAIN6.format(r="rank")}) AS dcg,
         MIN(CASE WHEN grade > 0 THEN rank END) AS first_rel
  FROM got GROUP BY query_id
),
ideal AS (
  SELECT query_id, grade,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY grade DESC, doc_id) AS ir
  FROM qrels QUALIFY ir <= 5
),
idcg AS (
  SELECT query_id, SUM({_GAIN6.format(r="ir")}) AS idcg FROM ideal GROUP BY query_id
)
SELECT d.query_id,
       CASE WHEN d.first_rel IS NULL THEN 0.0
            ELSE {_R6D.format(e="1.0 / CAST(d.first_rel AS DOUBLE)")} END AS mrr,
       CASE WHEN i.idcg IS NOT NULL AND i.idcg > 0
            THEN {_R6D.format(e="CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE)")}
            ELSE 0.0 END AS ndcg
FROM dcg d LEFT JOIN idcg i USING (query_id)
""")
def doc_retrieval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 debut: graded retrieval EVALUATION — nDCG@5 + MRR of
    # the BM25 ranking per query (operators/evaluation.
    # retrieval_rank_metrics), the metric pair every retrieval stack
    # is judged by. Qrels here are derived (grade = # distinct query
    # terms the doc contains) so the oracle can replay them; in
    # production qrels are tiny human-judgment inputs and the
    # evaluation is one candidate-bounded join + one qrels-sized
    # window — nothing corpus-sized beyond the ranking under test.
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.evaluation import (
        retrieval_rank_metrics,
    )
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        _bm25_rank,
        corpus_term_stats,
    )

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # ONE corpus tokenize feeds both the ranking under test and the
    # derived qrels (round-15: the r14 shape tokenized twice — once
    # inside bm25_topk, once for the qrels' distinct-term explode).
    # postings rows ARE the distinct (doc, term) pairs, so the qrels
    # grade (# distinct query terms the doc contains) reads straight
    # off the checkpointed postings; df/dl re-derive from the same
    # materialized blocks. Values identical, oracle unchanged.
    postings, _df0, _dl0 = corpus_term_stats(docs)
    postings = materialize(postings)
    df_stats = postings.groupBy("term").agg(F.count("*").alias("df"))
    dl = postings.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    qdf = query_terms(spark, _BM25_QUERIES)
    # the ranking under test is corpus-sized work but its OUTPUT is
    # queries x k rows — materialize so the metric branches never
    # re-run the BM25 scan (plan-audit finding r11)
    ranked = materialize(_bm25_rank(docs, qdf, 5, "doc_id", postings, df_stats, dl))
    qrels = (
        postings.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("int").alias("grade"))
    )
    return retrieval_rank_metrics(ranked, qrels, k=5)


@query(sql_of("doc_hybrid_rrf_search_pq"))
def doc_hybrid_rrf_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 debut: the FULLY-persisted hybrid — BOTH retrieval
    # sides read durable artifacts (BM25 inverted index + IVF-PQ
    # index), so the complete RAG-retrieval stack runs with zero
    # corpus-sized work at query time: no tokenize scan, no
    # training job, two DPP-pruned index reads + candidate-bounded
    # fusion. Values are bit-equal to doc_hybrid_rrf_search_pq
    # (both index paths are deterministic twins of their in-query
    # forms), so its oracle is reused verbatim.
    import os

    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_search_index,
        rrf_fuse,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_search_index,
    )

    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    fp = _data_fingerprint(sf_dir, "embeddings")
    vidx = _index_cache_dir("ivfpq", f"c16_m8_k8_i2_{fp}")
    if not os.path.exists(os.path.join(vidx, "codes", "_SUCCESS")):
        ivfpq_build_index(load_table(spark, sf_dir, "embeddings"), vidx, **params)
    lidx = _bm25_index_dir(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qids = [1, 2, 3, 4]
    qterms = (
        docs.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    lex = bm25_search_index(qterms, lidx, k=20, exclude_query_doc=True).select(
        "query_id", "doc_id", "rank"
    )
    sem = ivfpq_search_index(
        emb.filter(F.col("vec_id").isin(qids)),
        emb,
        vidx,
        k=20,
        probes=6,
        rerank=40,
        **params,
    ).select(F.col("query_id"), F.col("neighbor_id").alias("doc_id"), F.col("rank"))
    return rrf_fuse({"lex": lex, "sem": sem}, k=5, rrf_k=60)


# hybrid over the sharded corpus: the BM25 chain + BOTH prefixed
# shard chains (query side docs 1-4), fed union → semantic top-20,
# RRF fusion identical to the other hybrids
_fedq_parts: list[str] = []
for _i, _pred in enumerate(("vec_id % 2 = 0", "vec_id % 2 = 1")):
    _fedq_parts += _prefix_ctes(
        _ivfpq_topk_sql(
            n_cells=16,
            probes=4,
            m=8,
            n_centroids=8,
            iters=2,
            rerank=30,
            train_filter=_pred,
            corpus_filter=_pred,
            query_filter="vec_id IN (1, 2, 3, 4)",
            parts_only=True,
        ),
        f"s{_i}",
    )
_fedq = ",\n".join(_fedq_parts)


@query(f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
),
postings0 AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings0 GROUP BY doc_id),
postings AS (SELECT p.doc_id, p.term, p.tf, dl.dl FROM postings0 p JOIN dl USING (doc_id)),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         CAST((SELECT COALESCE(SUM(dl), 0) FROM dl) AS DOUBLE)
           / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS avgdl
),
q AS (SELECT DISTINCT doc_id AS query_id, term FROM toks WHERE doc_id IN (1, 2, 3, 4)),
lexscored AS (
  SELECT q.query_id, p.doc_id,
         CAST({_r6(_BM25_S.replace("idf", "FLOOR(ln((nd.n - dfs.df + 0.5) / (dfs.df + 0.5) + 1.0) * 1000000 + 0.5) / 1000000"))} AS DECIMAL(12,6)) AS s
  FROM postings p JOIN q USING (term) JOIN dfs USING (term) CROSS JOIN nd
  WHERE p.doc_id <> q.query_id
),
lexdoc AS (
  SELECT query_id, doc_id, CAST(SUM(s) AS DOUBLE) AS score FROM lexscored GROUP BY query_id, doc_id
),
lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM lexdoc QUALIFY rank <= 20
),
{_fedq},
fedq AS (
  SELECT query_id, neighbor_id, cosine FROM s0exact
  UNION ALL
  SELECT query_id, neighbor_id, cosine FROM s1exact
),
sem AS (
  SELECT query_id, neighbor_id AS doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM fedq QUALIFY rank <= 20
),
contrib AS (
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         TRUE AS in_lex, FALSE AS in_sem FROM lex
  UNION ALL
  SELECT query_id, doc_id, CAST({_r6("1.0 / (60 + rank)")} AS DECIMAL(12,6)) AS c,
         FALSE AS in_lex, TRUE AS in_sem FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS rrf_score,
         MAX(in_lex) AS in_lex, MAX(in_sem) AS in_sem
  FROM contrib GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rrf_score, in_lex, in_sem, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= 5
""")
def doc_hybrid_rrf_search_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 extra: hybrid retrieval over a SHARDED corpus — the
    # composition a 100 TB RAG stack actually runs: BM25 lexical
    # candidates + a semantic side that fans out to PER-SHARD
    # persisted IVF-PQ indexes (no training job ever saw the whole
    # corpus) and rank-merges, fused by RRF. Reuses the
    # ann_ivfpq_federated_topk shard artifacts; oracle = the BM25
    # chain + two CTE-prefixed shard chains + fed union + fusion.
    import os

    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_topk_terms,
        rrf_fuse,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_federated_search,
    )

    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    fp = _data_fingerprint(sf_dir, "embeddings")
    emb = load_table(spark, sf_dir, "embeddings")
    shards = []
    for i, pred in enumerate((F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1)):
        idx = _index_cache_dir("ivfpq_fed", f"c16_m8_k8_i2_{fp}_s{i}")
        if not os.path.exists(os.path.join(idx, "codes", "_SUCCESS")):
            ivfpq_build_index(emb.filter(pred), idx, **params)
        shards.append(idx)
    docs = load_table(spark, sf_dir, "documents")
    qids = [1, 2, 3, 4]
    qterms = (
        docs.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    lex = bm25_topk_terms(
        _spread(docs), qterms, k=20, exclude_query_doc=True
    ).select("query_id", "doc_id", "rank")
    sem = ivfpq_federated_search(
        emb.filter(F.col("vec_id").isin(qids)),
        emb,
        shards,
        k=20,
        probes=4,
        rerank=30,
        **params,
    ).select(F.col("query_id"), F.col("neighbor_id").alias("doc_id"), F.col("rank"))
    return rrf_fuse({"lex": lex, "sem": sem}, k=5, rrf_k=60)


@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
hits AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t) - 1)
                 IF t[j] = 'order' AND t[j+1] = 'fast']) AS j
  FROM toks
)
SELECT doc_id, COUNT(*) AS n_matches, MIN(j) - 1 AS first_pos
FROM hits GROUP BY doc_id
""")
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # positional-index exact phrase search; the oracle scans token
    # slices directly — two different computation paths, same rows
    # (operators.retrieval.phrase_search)
    from data_warehouse_punta_fina_spark.operators.retrieval import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "order fast")


# round-11: phrase search over the persisted positional index is
# bit-equal to the in-query token-slice scan (same tokenizer rule on
# corpus and phrase, positional intersection == gram match) — reuse
@query(sql_of("doc_phrase_search"))
def doc_phrase_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 debut: phrase search over the PERSISTED positional
    # index (operators/retrieval.positional_build_index — the
    # phrase/proximity complement of the BM25 postings, completing
    # the persisted-artifact family). Zero corpus tokenization at
    # query time: the phrase terms are driver-known literals, so the
    # scan carries a STATIC bucket filter and matching is the
    # classic positional intersection (term-frequency-sized join
    # sides, never corpus-sized). Bit-equal to the in-query
    # phrase_search — its oracle is reused verbatim.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_build_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("positional", f"arr_b16_{fp}")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        positional_build_index(
            _spread(load_table(spark, sf_dir, "documents")), idx, n_buckets=16
        )
    return phrase_search_index(spark, idx, "order fast")


# round-11: proximity retrieval — pairs of 'customer'/'order'
# occurrences within 6 tokens. The oracle's list positions are
# 1-based where the index stores 0-based, but only DIFFERENCES
# reach the output, so the numbering cancels.
@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
pa AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'customer']) AS p
  FROM toks
),
pb AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'order']) AS p
  FROM toks
),
pairs AS (
  SELECT pa.doc_id, ABS(pa.p - pb.p) AS d
  FROM pa JOIN pb USING (doc_id)
  WHERE ABS(pa.p - pb.p) <= 6
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(MIN(d) AS BIGINT) AS min_dist
FROM pairs GROUP BY doc_id
""")
def doc_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-11 debut: proximity retrieval over the persisted
    # positional index — docs where 'customer' and 'order' co-occur
    # within 6 tokens (operators/retrieval.proximity_search_index):
    # the predicate between bag-of-words BM25 and exact phrase
    # match, and the "terms in the same context" filter topical
    # curation actually uses. Static bucket pruning (driver-known
    # terms), per-doc tf_a x tf_b pair fan-out, never corpus-sized.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        positional_build_index,
        proximity_search_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("positional", f"arr_b16_{fp}")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        positional_build_index(
            _spread(load_table(spark, sf_dir, "documents")), idx, n_buckets=16
        )
    return proximity_search_index(spark, idx, "customer", "order", window=6)


# round-12: sloppy phrase 'customer order fast' with slop=3 — terms
# in order, each consecutive gap in [1, 4]. The oracle replays the
# SAME chained range joins over 1-based token positions (gaps are
# differences, so the numbering cancels; first_pos adjusts by -1);
# n_matches counts distinct (p1, p2, p3) tuples exactly as the
# chained Spark joins enumerate them.
@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
p1 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'customer']) AS p
  FROM toks
),
p2 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'order']) AS p
  FROM toks
),
p3 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'fast']) AS p
  FROM toks
),
tuples AS (
  SELECT p1.doc_id, p1.p AS a
  FROM p1 JOIN p2 USING (doc_id) JOIN p3 USING (doc_id)
  WHERE p2.p > p1.p AND p2.p - p1.p <= 4
    AND p3.p > p2.p AND p3.p - p2.p <= 4
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(a) - 1 AS BIGINT) AS first_pos
FROM tuples GROUP BY doc_id
""")
def doc_phrase_slop_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12 debut: SLOPPY phrase search over the persisted
    # positional index (operators/retrieval.phrase_slop_search_index
    # — VERDICT r11 #6): 'customer order fast' in order with at most
    # 3 intervening tokens between consecutive terms — the middle
    # ground between exact phrase and bag-of-words, and the natural
    # consumer of the v2 array-postings layout (one static bucket
    # filter, per-term tf-bounded array explodes, two chained range
    # joins; per-doc fan-out bounded by the product of the terms'
    # frequencies). Oracle: the same chained joins over DuckDB token
    # lists (1-based positions cancel in the gap differences;
    # first_pos adjusts by -1).
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_slop_search_index,
        positional_build_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("positional", f"arr_b16_{fp}")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        positional_build_index(
            _spread(load_table(spark, sf_dir, "documents")), idx, n_buckets=16
        )
    return phrase_slop_search_index(
        spark, idx, "customer order fast", slop=3
    )


# round-12: unordered 3-term co-occurrence within 6 tokens — the
# same chained joins with GREATEST/LEAST span arithmetic; spans are
# position differences, so 1- vs 0-based numbering cancels.
@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS t FROM documents),
p0 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'spark']) AS p
  FROM toks
),
p1 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'vector']) AS p
  FROM toks
),
p2 AS (
  SELECT doc_id,
         unnest([j FOR j IN generate_series(1, len(t)) IF t[j] = 'join']) AS p
  FROM toks
),
tuples AS (
  SELECT p0.doc_id,
         GREATEST(p0.p, p1.p, p2.p) - LEAST(p0.p, p1.p, p2.p) AS span
  FROM p0 JOIN p1 USING (doc_id) JOIN p2 USING (doc_id)
  WHERE GREATEST(p0.p, p1.p, p2.p) - LEAST(p0.p, p1.p, p2.p) <= 6
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(span) AS BIGINT) AS min_span
FROM tuples GROUP BY doc_id
""")
def doc_cooccurrence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-12 debut: n-term WITHIN-WINDOW co-occurrence over the
    # persisted positional index (operators/retrieval.
    # cooccurrence_search_index) — 'spark', 'vector', 'join' in any
    # order within 6 tokens: the unordered complement of the sloppy
    # phrase (order-free "concepts in the same context" curation
    # predicate). Chained equi-joins carry the running (min, max)
    # span so tuples die as soon as the span exceeds the window;
    # min_span is numbering-invariant (differences only). Oracle:
    # the same 3-way join with GREATEST/LEAST span arithmetic.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        cooccurrence_search_index,
        positional_build_index,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("positional", f"arr_b16_{fp}")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        positional_build_index(
            _spread(load_table(spark, sf_dir, "documents")), idx, n_buckets=16
        )
    return cooccurrence_search_index(
        spark, idx, ["spark", "vector", "join"], window=6
    )


# round-13 (VERDICT r12 #2): a stream-shaped positional index
# compacted into the batch layout carries the same (term, doc,
# positions) content — the compacted search is bit-equal, oracle
# reused verbatim
@query(sql_of("doc_phrase_search"))
def doc_phrase_search_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-13 debut (VERDICT r12 #2): phrase search over a
    # COMPACTED positional index that started life STREAM-SHAPED —
    # the documents land in two ingest_batch partitions (the
    # maintenance-stream layout, written via the stream's own batch
    # function), then operators/retrieval.positional_compact_index
    # graduates the index to the batch shape (one file per bucket,
    # ingest_batch dropped) and ESTABLISHES the content fingerprint
    # from the corpus — after the ADVICE r12 cross-check that the
    # corpus matches the indexed doc set. Compaction changes layout,
    # not content, so the search is bit-equal to the batch-built
    # index: doc_phrase_search's oracle is reused verbatim.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_compact_index,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    root = _index_cache_dir("positional_comp", f"arr_b16_{fp}")
    idx = os.path.join(root, "compacted")
    if not os.path.exists(os.path.join(root, "_COMPACTED")):
        src = os.path.join(root, "src")
        docs = _spread(load_table(spark, sf_dir, "documents"))
        positional_ingest_batch(
            docs.filter(F.col("doc_id") % 2 == 0), 0, src, n_buckets=16
        )
        positional_ingest_batch(
            docs.filter(F.col("doc_id") % 2 == 1), 1, src, n_buckets=16
        )
        positional_compact_index(spark, src, idx, corpus=docs)
        with open(os.path.join(root, "_COMPACTED"), "w") as fh:
            fh.write("ok")
    return phrase_search_index(spark, idx, "order fast")
