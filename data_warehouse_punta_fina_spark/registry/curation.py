"""Curation compositions for training corpora: the curation report,
splits, resampling, mixtures, packing and contrastive/negative mining."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from data_warehouse_punta_fina_spark.operators.dedup import minhash_lsh_pairs
from data_warehouse_punta_fina_spark.operators.materialize import materialize
from data_warehouse_punta_fina_spark.operators.mixture import mixture_allocation_oracle_sql
from data_warehouse_punta_fina_spark.registry.shared import (
    _FINGERPRINT,
    _LANG_CASE,
    _MINHASH_PAIRS_SQL,
    _N_TOK,
    _QUALITY,
    _QUANT_VEC,
    _SHINGLES,
    _TOKENS,
    _cosine_sql,
    _hex13,
    _kmeans_cells_sql,
    _r6,
    query,
    sql_of,
)
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table


# DSIR (Xie et al. 2023): hashed unigram+bigram bucket models,
# per-bucket lam = r6(ln target Laplace p) - r6(ln raw Laplace p),
# per-doc exact decimal logw, Gumbel-top-k on md5-derived uniforms —
# the exact twin of operators/importance.py (target = lang 'en')
_dsu = (
    "(" + _hex13("substr(md5('dsir' || '|' || CAST(doc_id AS VARCHAR)), 1, 13)")
    + " + 0.5) / 4503599627370496.0"
)


@query(f"""
WITH toks AS (SELECT doc_id, lang, {_TOKENS} AS ts FROM documents),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(ts,
           CASE WHEN len(ts) >= 2
                THEN [array_to_string(ts[j:j+1], ' ') FOR j IN generate_series(1, len(ts) - 1)]
                ELSE [] END)) AS g
  FROM toks
),
bk AS (SELECT doc_id, lang, {_hex13("substr(md5(g), 1, 13)")} % 256 AS bkt FROM grams),
tc AS (SELECT bkt, COUNT(*) AS ct FROM bk WHERE lang = 'en' GROUP BY bkt),
rc AS (SELECT bkt, COUNT(*) AS cr FROM bk GROUP BY bkt),
tot AS (SELECT (SELECT COUNT(*) FROM bk WHERE lang = 'en') AS tt,
               (SELECT COUNT(*) FROM bk) AS tr),
lam AS (
  SELECT b.bkt,
         {_r6("ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) / CAST(tot.tt + 256 AS DOUBLE))")}
         - {_r6("ln(CAST(COALESCE(rc.cr, 0) + 1 AS DOUBLE) / CAST(tot.tr + 256 AS DOUBLE))")} AS lam
  FROM range(256) b(bkt)
  LEFT JOIN tc ON tc.bkt = b.bkt LEFT JOIN rc ON rc.bkt = b.bkt
  CROSS JOIN tot
),
tf AS (SELECT doc_id, bkt, COUNT(*) AS tf FROM bk GROUP BY doc_id, bkt),
logw AS (
  SELECT tf.doc_id, SUM(tf.tf * lam.lam) AS lw
  FROM tf JOIN lam ON lam.bkt = tf.bkt GROUP BY tf.doc_id
),
keyed AS (
  SELECT d.doc_id,
         CAST(COALESCE(lw.lw, 0) AS DOUBLE) AS logw,
         CAST(FLOOR((CAST(COALESCE(lw.lw, 0) AS DOUBLE)
                     + (-ln(-ln({_dsu})))) * 1000000000 + 0.5) / 1000000000
              AS DOUBLE) AS sample_key
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN (SELECT doc_id AS lwid, lw FROM logw) lw ON lw.lwid = d.doc_id
)
SELECT doc_id, logw, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id LIMIT 100
""")
def doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR data selection (Xie et al., NeurIPS 2023): hashed unigram+
    # bigram models of the TARGET (en docs) vs the RAW pool give per-
    # bucket importance log-ratios (256 rows, broadcast); each doc scores
    # an exact decimal logw; Gumbel-top-k draws 100 docs proportional
    # to importance without replacement — one TakeOrderedAndProject,
    # no global sort (operators/importance.py)
    from data_warehouse_punta_fina_spark.operators.importance import (
        dsir_resample,
        hashed_ngram_logratio,
    )

    docs = load_table(spark, sf_dir, "documents")
    lam = hashed_ngram_logratio(
        None, docs, n_buckets=256, target_predicate=F.col("lang") == "en"
    )
    return dsir_resample(
        docs.select("doc_id", "text"), lam, k=100, n_buckets=256
    )


# temperature-smoothed mixture rates (q_l ∝ p_l^τ, τ=0.7): every
# share/pow/ratio round-6'd as an exact decimal the moment it exists —
# the exact twin of operators/mixture.temperature_sampling_rates
@query(f"""
WITH per AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
tot AS (SELECT SUM(n) AS t FROM per),
sh AS (SELECT lang, n, {_r6("CAST(n AS DOUBLE) / CAST(t AS DOUBLE)")} AS share
       FROM per CROSS JOIN tot),
pw AS (SELECT lang, n, {_r6("pow(CAST(share AS DOUBLE), 0.7)")} AS p FROM sh),
ps AS (SELECT SUM(p) AS psum FROM pw),
ts AS (SELECT lang, n, {_r6("CAST(p AS DOUBLE) / CAST(psum AS DOUBLE)")} AS temp_share
       FROM pw CROSS JOIN ps),
km AS (
  SELECT lang,
         CAST(FLOOR(CAST({_r6("least(CAST(1 AS DOUBLE), FLOOR(CAST(t AS DOUBLE) * CAST(temp_share AS DOUBLE)) / CAST(n AS DOUBLE))")} AS DOUBLE) * 1000 + 0.5) AS INT) AS keep_mille
  FROM ts CROSS JOIN tot
)
SELECT d.doc_id, d.lang, km.keep_mille,
       CAST(({_FINGERPRINT}) % 1000 AS INT) AS mille,
       (({_FINGERPRINT}) % 1000) < km.keep_mille AS keep
FROM documents d JOIN km ON km.lang = d.lang
""")
def doc_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temperature-smoothed multilingual resampling (the q_l ∝ p_l^τ
    # formula of Devlin 2019 / XLM-R): per-language τ=0.7 rates from
    # the empirical distribution (a languages-sized broadcast), then
    # deterministic content-fingerprint keeps — upweights tail
    # languages without driver-side math (operators/mixture.py)
    from data_warehouse_punta_fina_spark.operators.mixture import (
        temperature_sampling_rates,
    )

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("lang").agg(F.count("*").alias("n"))
    rates = temperature_sampling_rates(
        per, tau=0.7, group_col="lang", count_col="n"
    )
    mille = (fingerprint("text") % 1000).cast("int")
    return docs.join(
        F.broadcast(rates.select("lang", "keep_mille")), "lang"
    ).select(
        "doc_id",
        "lang",
        "keep_mille",
        mille.alias("mille"),
        (mille < F.col("keep_mille")).alias("keep"),
    )


# per-source quantile quality gate: explicit (rank-1)/(n-1) percentile
# with total ordering (q desc, doc_id) — the exact twin of
# operators/text_quality.source_percentile_gate at keep_top=0.3
@query(f"""
WITH scored AS (SELECT doc_id, source, {_r6(_QUALITY)} AS q FROM documents),
r AS (
  SELECT doc_id, source, q,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM scored
),
p AS (
  SELECT doc_id, source, q,
         CASE WHEN n > 1
              THEN {_r6("CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)")}
              ELSE CAST(0 AS DECIMAL(12,6)) END AS pct
  FROM r
)
SELECT doc_id, source, CAST(q AS DOUBLE) AS q,
       CAST(pct AS DOUBLE) AS pct_rank, pct < 0.3 AS keep
FROM p
""")
def doc_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source quantile quality gate: rank docs WITHIN their source
    # and keep each source's top 30% — the debiasing alternative to a
    # global threshold that silently drops whole low-scoring sources
    # (operators/text_quality.py source_percentile_gate)
    from data_warehouse_punta_fina_spark.operators.text_quality import (
        source_percentile_gate,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", quality_score("text").alias("q")
    )
    return source_percentile_gate(scored, "q", "source", "doc_id", keep_top=0.3)


# session-6: Neyman allocation — exact sufficient stats, round-6
# weights, largest-remainder seats (ties -> stratum key ascending)
# DECIMAL(28,6): n_h·std_q exceeds (18,6)'s 1e12 integer headroom at
# 5× sf0.1 (sf0.5 scaling-run finding; mirrors operators/sampling.py)
_NY_R6 = "CAST(CAST(FLOOR(({e}) * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6)) AS DOUBLE)"


@query(f"""
WITH base AS (
  SELECT o_orderpriority, CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT) AS q
  FROM orders
),
s AS (
  SELECT o_orderpriority, COUNT(*) AS n_pop,
         SUM(CAST(q AS DECIMAL(38,0))) AS s1,
         SUM(CAST(q AS DECIMAL(38,0)) * q) AS s2
  FROM base GROUP BY 1
),
w AS (
  SELECT *, sqrt(greatest(
    (CAST(n_pop AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
    / (CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE)), 0.0)) AS std_q
  FROM s
),
w2 AS (SELECT *, {_NY_R6.format(e="CAST(n_pop AS DOUBLE) * std_q")} AS wgt FROM w),
tot AS (
  SELECT SUM(CAST(FLOOR(wgt * 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))) AS tw,
         SUM(n_pop) AS nn
  FROM w2
),
qta AS (
  SELECT w2.*, 1000.0 * (CASE WHEN CAST(tw AS DOUBLE) > 0.0 THEN wgt / CAST(tw AS DOUBLE)
                              ELSE CAST(n_pop AS DOUBLE) / CAST(nn AS DOUBLE) END) AS quota
  FROM w2 CROSS JOIN tot
),
fl AS (SELECT *, CAST(FLOOR(quota) AS BIGINT) AS flr, quota - FLOOR(quota) AS frac FROM qta),
lo AS (SELECT CAST(1000 - SUM(flr) AS BIGINT) AS leftv FROM fl),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, o_orderpriority) AS rk FROM fl)
SELECT o_orderpriority, n_pop,
       {_NY_R6.format(e="std_q / 100.0")} AS std,
       {_NY_R6.format(e="quota")} AS quota,
       flr + CASE WHEN rk <= leftv THEN 1 ELSE 0 END AS alloc
FROM rk CROSS JOIN lo
""", dec=["std", "quota"])
def order_sample_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Neyman optimal allocation: split a 1000-row sample budget across
    # order-priority strata proportional to N_h·S_h (size × std of
    # o_totalprice) — largest-remainder integer seats, exact
    # sufficient statistics (operators.sampling.neyman_allocation)
    from data_warehouse_punta_fina_spark.operators.sampling import (
        neyman_allocation,
    )

    orders = load_table(spark, sf_dir, "orders")
    return neyman_allocation(orders, ["o_orderpriority"], "o_totalprice", 1000)


# Cluster-balanced diversity sample: the _kmeans_cells_sql chain's
# final assignment (af) + per-cid md5-ranked quota of 20 — the exact
# twin of kmeans_fit + _assign + the stratified-sampler window.
@query(
    "WITH " + ",\n".join(_kmeans_cells_sql(16, 2)) + ",\n"
    "sizes AS (SELECT cid, COUNT(*) AS cluster_n FROM af GROUP BY cid),\n"
    "ranked AS (\n"
    "  SELECT vec_id, cid,\n"
    "         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR) || '|cbal'), vec_id) AS pick_rank\n"
    "  FROM af\n"
    ")\n"
    "SELECT r.vec_id, r.cid, CAST(s.cluster_n AS INT) AS cluster_n,\n"
    "       CAST(r.pick_rank AS INT) AS pick_rank\n"
    "FROM ranked r JOIN sizes s USING (cid) WHERE r.pick_rank <= 20",
)
def emb_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-9 debut: cluster-balanced diversity selection (the
    # SemDeDup/DataComp curation pattern) — k-means the embedding
    # space (the same deterministic 16-cell/2-iter quantizer as the
    # IVF tiers), then draw an EQUAL md5-ranked quota of 20 per
    # cluster: topical diversity a proportional or uniform sample
    # cannot give (dominant clusters stop dominating the corpus).
    # Scale shape: centroids broadcast for assignment, the quota
    # window partitions on cid, nothing global; cluster_n rides a
    # 16-row broadcast join.
    from data_warehouse_punta_fina_spark.functions.vectors import quantize
    from data_warehouse_punta_fina_spark.operators.similarity import (
        _assign,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=16, iters=2)
    cv = emb.select("vec_id", quantize("embedding").alias("qvec"))
    assigned = _assign(cv, cent, "vec_id").select("vec_id", "cid")
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("cluster_n"))
    key = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("|cbal")))
    w = Window.partitionBy("cid").orderBy(key, F.col("vec_id"))
    return (
        assigned.withColumn("pick_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("pick_rank") <= 20)
        .join(F.broadcast(sizes), "cid")
        .select(
            "vec_id",
            "cid",
            F.col("cluster_n").cast("int").alias("cluster_n"),
            "pick_rank",
        )
    )


# session-6: contrastive pair mining — positives reuse the verified
# near-dup fragments; negatives are md5-ranked (pool draw + per-anchor
# ranking), so the exact pair set reproduces cross-engine
@query(f"""
WITH cand AS ({_MINHASH_PAIRS_SQL}),
shc AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN shc a ON a.doc_id = c.id_a
  JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
), verified AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} >= 0.2
), pos AS (
  SELECT id_a AS anchor_id, id_b AS other_id FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
), anchors AS (SELECT DISTINCT anchor_id FROM pos),
pool AS (
  SELECT doc_id AS cand_id FROM documents
  ORDER BY md5(concat_ws('|', 'cp1', CAST(doc_id AS VARCHAR))), doc_id LIMIT 64
), candn AS (
  SELECT a.anchor_id, p.cand_id,
         md5(concat_ws('|', 'cp1', CAST(a.anchor_id AS VARCHAR), CAST(p.cand_id AS VARCHAR))) AS pk
  FROM anchors a JOIN pool p ON p.cand_id <> a.anchor_id
  LEFT JOIN pos x ON x.anchor_id = a.anchor_id AND x.other_id = p.cand_id
  WHERE x.other_id IS NULL
), neg AS (
  SELECT anchor_id, cand_id,
         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY pk, cand_id) AS rn
  FROM candn QUALIFY rn <= 3
)
SELECT anchor_id, other_id, 'pos' AS label, CAST(0 AS INT) AS pair_rank FROM pos
UNION ALL
SELECT anchor_id, cand_id AS other_id, 'neg' AS label, CAST(rn AS INT) AS pair_rank FROM neg
""")
def doc_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # contrastive training-pair mining: positives = LSH-verified
    # near-dup pairs (both orientations anchor), negatives = 3
    # deterministic hash-sampled docs per anchor from a broadcast
    # 64-doc pool, positives/self anti-joined out
    # (operators.pairs.contrastive_pairs — md5 rankings, no RNG)
    from data_warehouse_punta_fina_spark.operators.pairs import contrastive_pairs

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_pairs(docs, threshold=0.2, n_neg=3, neg_pool=64)


@query(f"""
WITH q AS (
  SELECT vec_id AS query_id, {_QUANT_VEC} AS qv FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id, {_QUANT_VEC} AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_cosine_sql("q.qv", "c.cv")} AS cosine
  FROM q, c WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank BETWEEN 6 AND 10
""", dec=["cosine"])
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hard negatives for dense-retrieval training: each query's exact
    # cosine neighbors ranked 6..10 — informative near-misses below
    # the presumed-positive top-5 (operators.pairs.hard_negatives)
    from data_warehouse_punta_fina_spark.operators.pairs import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 8), lo_rank=6, hi_rank=10)


# session-6: the end-to-end curation verdict — composes the exact-dup
# canonical map, the LSH-verified near-dup drop set, and the
# quality/length/language metrics (all already-verified fragments)
@query(f"""
WITH cand AS ({_MINHASH_PAIRS_SQL}),
shc AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN shc a ON a.doc_id = c.id_a
  JOIN shc b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
), near AS (
  SELECT DISTINCT id_b AS doc_id
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} >= 0.2
), canon AS (
  SELECT md5(text) AS h, MIN(doc_id) AS canonical FROM documents GROUP BY 1
), base AS (
  SELECT doc_id, md5(text) AS h, CAST({_N_TOK} AS INT) AS n_tokens,
         {_r6(_QUALITY)} AS quality, {_LANG_CASE} AS lang_pred
  FROM documents
)
SELECT b.doc_id,
       (b.doc_id <> c.canonical) AS is_exact_dup,
       (n.doc_id IS NOT NULL) AS is_near_dup,
       b.n_tokens, b.quality, b.lang_pred,
       CASE WHEN b.doc_id <> c.canonical THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            WHEN b.n_tokens < 10 THEN 'too_short'
            WHEN b.quality < 0.5 THEN 'low_quality'
            WHEN b.lang_pred = 'und' THEN 'unknown_lang'
            ELSE 'keep' END AS verdict
FROM base b JOIN canon c ON c.h = b.h
LEFT JOIN near n ON n.doc_id = b.doc_id
""", dec=["quality"])
def doc_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the END-TO-END curation decision, one row per document: every
    # filter a training pipeline runs — exact dedup (keep-first by
    # content hash), LSH-verified near-dup (keep-first: the larger id
    # of a verified pair drops), length, quality, language — composed
    # into flags + a precedence verdict. Each stage is the
    # already-verified operator; this query proves they COMPOSE
    from data_warehouse_punta_fina_spark.operators.dedup import (
        _spread,
        lsh_verified_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # round-16 (guide §6 read-once): one projected scan computes every
    # per-doc signal — content hash + the three text functions — and
    # is checkpointed for all consumers; the r15 shape read the text
    # column in FOUR scans (exact_dedup's md5+groupBy, the per-doc md5
    # flag scan, the base signal scan, the LSH tokenize). The canon
    # aggregation below IS exact_dedup's body verbatim over the shared
    # projection (md5 → groupBy → min id + count), so flags and values
    # are identical; only the LSH leg keeps its own (tokenize) scan.
    proj = materialize(
        _spread(docs.select("doc_id", "text"))  # raw rows below, heavy exprs above
        .select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            token_count("text").cast("int").alias("n_tokens"),
            quality_score("text").alias("quality"),
            lang_id("text").alias("lang_pred"),
        )
    )
    canon = proj.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )
    exact_flag = proj.select("doc_id", "content_hash").join(
        canon, "content_hash"
    ).select(
        "doc_id", (F.col("doc_id") != F.col("canonical_id")).alias("is_exact_dup")
    )
    near_ids = (
        lsh_verified_pairs(docs, num_hashes=12, bands=4, threshold=0.2)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
    )
    base = proj.select("doc_id", "n_tokens", "quality", "lang_pred")
    out = (
        base.join(exact_flag, "doc_id")
        .join(near_ids, "doc_id", "left")
        .withColumn("is_near_dup", F.coalesce(F.col("_near"), F.lit(False)))
    )
    verdict = (
        F.when(F.col("is_exact_dup"), "exact_dup")
        .when(F.col("is_near_dup"), "near_dup")
        .when(F.col("n_tokens") < 10, "too_short")
        .when(F.col("quality") < 0.5, "low_quality")
        .when(F.col("lang_pred") == "und", "unknown_lang")
        .otherwise("keep")
    )
    return out.select(
        "doc_id",
        "is_exact_dup",
        "is_near_dup",
        "n_tokens",
        "quality",
        "lang_pred",
        verdict.alias("verdict"),
    )


@query(f"""
WITH b AS (
  SELECT doc_id, lang, CAST(({_FINGERPRINT}) % 1000 AS INT) AS mille FROM documents
)
SELECT doc_id, lang, mille,
       mille < (CASE lang WHEN 'en' THEN 1000 WHEN 'es' THEN 500
                          WHEN 'fr' THEN 250 WHEN 'de' THEN 250 ELSE 100 END) AS keep
FROM b
""")
def doc_lang_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus mixing: deterministic per-language downsampling by content
    # fingerprint (a doc's keep/drop is stable under reshuffles and
    # re-ingest — the reproducible version of weighted sampling used
    # when balancing a training mix)
    weights = {"en": 1000, "es": 500, "fr": 250, "de": 250}  # per-mille keep rates
    docs = load_table(spark, sf_dir, "documents")
    mille = fingerprint("text") % 1000
    thr = F.lit(100)  # unknown/other languages: 10%
    for lang, w in weights.items():
        thr = F.when(F.col("lang") == lang, F.lit(w)).otherwise(thr)
    return docs.select(
        "doc_id", "lang", mille.cast("int").alias("mille"), (mille < thr).alias("keep")
    )


@query(f"""
WITH b AS (SELECT doc_id, CAST(({_FINGERPRINT}) % 10 AS INT) AS bucket FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
FROM b
""")
def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reproducible corpus splitting: bucket by the portable content
    # fingerprint (NOT by row position/random — content-stable under
    # re-shuffles, re-ingest, and engine changes), 80/10/10
    docs = load_table(spark, sf_dir, "documents")
    bucket = (fingerprint("text") % 10).cast("int")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test").alias("split"),
    )


# leakage-safe split: the reachability-closure clusters (the
# doc_dedup_clusters oracle) + an 80/10/10 bucket hashed from the
# CLUSTER id — every member of a near-dup family inherits one side
@query(f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
b AS (
  SELECT doc_id, cluster_id,
         CAST(({_hex13("md5(CAST(cluster_id AS VARCHAR) || '|leak')")}) % 10 AS INT) AS bucket
  FROM clusters
)
SELECT doc_id, cluster_id, bucket,
       CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
FROM b
""")
def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-9 debut: LEAKAGE-SAFE corpus splitting — near-duplicate
    # documents must land on the same side of a train/eval boundary,
    # or eval leaks training content (the contamination mode that
    # plain per-doc hash splitting cannot prevent: cross-split
    # twins). Compose the verified pieces: LSH near-dup pairs →
    # connected components → the 80/10/10 bucket derives from the
    # CLUSTER id's md5 (13 hex digits → exact 2^52-range integer),
    # so every member inherits its cluster's side. Scale shape: the
    # cluster step is the O(log n)-capable components operator; the
    # bucket is a pure function of cluster_id — no extra shuffle
    # beyond the components themselves.
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    clusters = dedup_clusters(docs.select("doc_id"), pairs, max_iter=30).select(
        "doc_id", "cluster_id"
    )
    digits = F.conv(
        F.substring(
            F.md5(F.concat(F.col("cluster_id").cast("string"), F.lit("|leak"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    bucket = F.pmod(digits, F.lit(10)).cast("int")
    return clusters.select(
        "doc_id",
        "cluster_id",
        bucket.alias("bucket"),
        F.when(bucket < 8, "train")
        .when(bucket == 8, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(f"""
WITH tagged AS (
  SELECT doc_id, text,
         CASE WHEN ({_FINGERPRINT}) % 10 < 8 THEN 'train' ELSE 'eval' END AS split
  FROM documents
), sh0 AS (
  SELECT doc_id, split, unnest({_SHINGLES}) AS shingle FROM tagged
), sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 64)
)
SELECT t.doc_id AS test_id, tr.doc_id AS train_id, COUNT(*) AS n_shared
FROM sh t JOIN sh tr ON t.shingle = tr.shingle AND t.split = 'eval' AND tr.split = 'train'
GROUP BY t.doc_id, tr.doc_id
HAVING COUNT(*) >= 3
""")
def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decontamination: test-split documents sharing ≥3 distinct
    # 3-gram shingles with any train-split document (the leakage check
    # every corpus build runs after splitting). Inverted-index join on
    # the shingle, restricted across the split boundary; stopword
    # shingles (df > 64) are dropped — same hot-key bound as the
    # Jaccard operator, or a ubiquitous trigram would fan out
    # train×eval quadratically.
    from data_warehouse_punta_fina_spark.operators.dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    bucket = fingerprint("text") % 10
    tagged = docs.withColumn("split", F.when(bucket < 8, "train").otherwise("eval"))
    sh0 = materialize(shingle_rows(tagged, "text", "doc_id"))
    hot = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > 64)
        .select("shingle")
    )
    sh = materialize(
        sh0.join(F.broadcast(hot), "shingle", "left_anti")
        .join(tagged.select("doc_id", "split"), "doc_id")
    )
    test_sh = sh.filter(F.col("split") == "eval").select(
        F.col("doc_id").alias("test_id"), "shingle"
    )
    train_sh = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    return (
        test_sh.join(train_sh, "shingle")
        .groupBy("test_id", "train_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# contamination under both split schemes: LSH cross-boundary pairs
# (structurally zero for the cluster scheme) + the ≥3-shared-shingle
# screen, re-using the reachability-closure clusters chain
@query(f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
hash_split AS (
  SELECT doc_id, ({_FINGERPRINT}) % 10 < 8 AS is_train FROM documents
),
safe_split AS (
  SELECT doc_id,
         ({_hex13("md5(CAST(cluster_id AS VARCHAR) || '|leak')")}) % 10 < 8 AS is_train
  FROM clusters
),
sh0 AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents),
sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 64)
),
lsh_h AS (
  SELECT COUNT(*) AS n FROM pairs p
  JOIN hash_split a ON p.id_a = a.doc_id
  JOIN hash_split b ON p.id_b = b.doc_id
  WHERE a.is_train <> b.is_train
),
lsh_c AS (
  SELECT COUNT(*) AS n FROM pairs p
  JOIN safe_split a ON p.id_a = a.doc_id
  JOIN safe_split b ON p.id_b = b.doc_id
  WHERE a.is_train <> b.is_train
),
con_h AS (
  SELECT COUNT(*) AS n FROM (
    SELECT t.doc_id, tr.doc_id AS train_id FROM sh t
    JOIN hash_split st ON t.doc_id = st.doc_id AND NOT st.is_train
    JOIN sh tr ON t.shingle = tr.shingle
    JOIN hash_split srt ON tr.doc_id = srt.doc_id AND srt.is_train
    GROUP BY t.doc_id, tr.doc_id HAVING COUNT(*) >= 3)
),
con_c AS (
  SELECT COUNT(*) AS n FROM (
    SELECT t.doc_id, tr.doc_id AS train_id FROM sh t
    JOIN safe_split st ON t.doc_id = st.doc_id AND NOT st.is_train
    JOIN sh tr ON t.shingle = tr.shingle
    JOIN safe_split srt ON tr.doc_id = srt.doc_id AND srt.is_train
    GROUP BY t.doc_id, tr.doc_id HAVING COUNT(*) >= 3)
)
SELECT 'hash' AS scheme,
       (SELECT n FROM lsh_h) AS n_cross_lsh_pairs,
       (SELECT n FROM con_h) AS n_contam_pairs
UNION ALL
SELECT 'cluster' AS scheme,
       (SELECT n FROM lsh_c) AS n_cross_lsh_pairs,
       (SELECT n FROM con_c) AS n_contam_pairs
""")
def doc_contamination_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-10 debut (VERDICT r9 #7): the leakage-safe split's core
    # claim measured as an oracle-checkable row instead of a
    # pytest-only property. For BOTH split schemes — the plain
    # per-doc hash split and doc_leakage_safe_split's
    # cluster-derived 80/20 boundary — count (a) LSH near-dup pairs
    # straddling train/eval (the split's own near-dup criterion:
    # structurally ZERO for the cluster scheme, because both
    # endpoints of every LSH pair share a cluster_id and the bucket
    # is a pure function of cluster_id) and (b) the
    # ≥3-shared-shingle decontamination screen's cross-boundary
    # pairs (doc_contamination's detector — broader than LSH, so it
    # drops sharply but need not hit zero). Scale shape: the pair
    # table comes from the banded LSH join (never all-pairs), the
    # shingle join drops ubiquitous shingles (df > 64) before any
    # fan-out, both detectors are computed ONCE (checkpointed) and
    # the two schemes differ only in the broadcast-sized split
    # assignment; output is 2 rows.
    from data_warehouse_punta_fina_spark.operators.dedup import (
        _spread,
        dedup_clusters,
        shingle_rows,
    )

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # round-16 (guide §6): ONE checkpointed shingle table feeds both the
    # LSH banding AND the ≥3-shared-shingle detector below — the r15
    # shape shingled the corpus twice (stage profile: two identical
    # 3.3 MB shingle aggregations per run). Same rows, same results.
    sh0 = materialize(shingle_rows(docs, "text", "doc_id"))
    pairs = materialize(minhash_lsh_pairs(docs, num_hashes=12, bands=4, shingles=sh0))
    clusters = dedup_clusters(docs.select("doc_id"), pairs, max_iter=30).select(
        "doc_id", "cluster_id"
    )
    hash_split = docs.select(
        "doc_id", ((fingerprint("text") % 10) < 8).alias("is_train")
    )
    digits = F.conv(
        F.substring(
            F.md5(F.concat(F.col("cluster_id").cast("string"), F.lit("|leak"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("bigint")
    safe_split = clusters.select(
        "doc_id", (F.pmod(digits, F.lit(10)) < 8).alias("is_train")
    )

    hot = (
        sh0.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > 64)
        .select("shingle")
    )
    sh = materialize(sh0.join(F.broadcast(hot), "shingle", "left_anti"))
    # the ≥3-shared-shingle detector computed ONCE as an unordered pair
    # table (round-15): the r14 shape re-ran the full shingle self-join
    # PER SCHEME (test×train each time); the split assignment only
    # decides which pairs count as cross-boundary, so the detector is
    # split-independent — id_a < id_b halves the join output and both
    # schemes read the same checkpointed pair set. A cross-boundary
    # pair has exactly one test endpoint, so the unordered pair count
    # equals the old (test_id, train_id) count; n_shared multiplicity
    # semantics are unchanged (same Σ count_a·count_b per shingle).
    shared3 = materialize(
        sh.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("id_a", "id_b")
    )

    def _scheme_counts(split_df: DataFrame, scheme: str) -> DataFrame:
        sa = split_df.select(
            F.col("doc_id").alias("id_a"), F.col("is_train").alias("train_a")
        )
        sb = split_df.select(
            F.col("doc_id").alias("id_b"), F.col("is_train").alias("train_b")
        )
        lsh_cross = (
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(F.col("train_a") != F.col("train_b"))
            .agg(F.count("*").alias("n_cross_lsh_pairs"))
        )
        contam = (
            shared3.join(sa, "id_a")
            .join(sb, "id_b")
            .filter(F.col("train_a") != F.col("train_b"))
            .agg(F.count("*").alias("n_contam_pairs"))
        )
        return lsh_cross.crossJoin(F.broadcast(contam)).select(
            F.lit(scheme).alias("scheme"), "n_cross_lsh_pairs", "n_contam_pairs"
        )

    return _scheme_counts(hash_split, "hash").unionByName(
        _scheme_counts(safe_split, "cluster")
    )


@query(f"""
WITH t AS (
  SELECT doc_id, lang, CAST({_N_TOK} AS INT) AS n_tokens FROM documents
), c AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_before,
       CAST(FLOOR(cum_before / 512) AS INT) AS bin_id,
       CAST(cum_before % 512 AS INT) AS offset_in_bin
FROM c
""")
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sequence packing: contiguous-greedy token bins per language shard
    # (one PARTITIONED window — shards pack independently)
    from data_warehouse_punta_fina_spark.operators.packing import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_documents(docs, budget=512, shard_col="lang", order_col="doc_id")
    return packed.select("doc_id", "lang", "n_tokens", "cum_before", "bin_id", "offset_in_bin")


# round-8: quality-aware canonical per cluster — same recursive
# components, argmax by (quality DESC, doc_id) per cluster
@query(f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
q AS (SELECT doc_id, {_r6(_QUALITY)} AS quality FROM documents),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM clusters GROUP BY cluster_id),
best AS (
  SELECT c.cluster_id, c.doc_id AS canonical_doc, q.quality
  FROM clusters c JOIN q USING (doc_id)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id) = 1
)
SELECT b.cluster_id, b.canonical_doc, b.quality, s.n_members
FROM best b JOIN sizes s USING (cluster_id)
""", dec=["quality"])
def doc_cluster_quality_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-aware canonical selection: the kept representative of
    # each near-dup cluster is its HIGHEST-QUALITY member (ties to
    # the smallest id), not the smallest id — the curation refinement
    # a pipeline ships once a quality scorer exists (keeping the best
    # copy of boilerplate families instead of an arbitrary one). The
    # per-cluster argmax window partitions on cluster_id
    # (cluster-sized partitions); quality values live on the exact
    # 1e-6 lattice so the DESC order is engine-identical.
    from data_warehouse_punta_fina_spark.functions.text import quality_score
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    clusters = dedup_clusters(docs.select("doc_id"), pairs, max_iter=30)
    q = docs.select("doc_id", quality_score("text").alias("quality"))
    joined = clusters.select("doc_id", "cluster_id").join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    best = (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_doc"), "quality")
    )
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return best.join(sizes, "cluster_id")


# deterministic n-per-language sample: md5-keyed rank per stratum
@query("""
SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || '|sample'), doc_id) AS rn
  FROM documents
) WHERE rn <= 20
""")
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic n-per-language sample: rank by md5(doc_id||salt)
    # inside each language — a reproducible "eyeball 20 docs per
    # language" draw that never changes across reruns or re-ingests
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|sample")))
    w = Window.partitionBy("lang").orderBy(key, F.col("doc_id"))
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 20)
    )


# language-stratified quality cut: percent_rank is (rank-1)/(n-1)
# over identical round-6 quality keys on both engines
@query(f"""
WITH b AS (
  SELECT doc_id, lang, {_r6(_QUALITY)} AS quality FROM documents
), r AS (
  SELECT doc_id, lang, quality,
         {_r6("percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id)")} AS pct_rank
  FROM b
)
SELECT doc_id, lang, quality, pct_rank, pct_rank <= 0.5 AS keep FROM r
""", dec=["quality", "pct_rank"])
def doc_quality_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # language-STRATIFIED quality cut: keep each language's best half
    # by percent_rank — a global threshold would wipe out languages
    # whose quality distribution sits lower (the standard curation
    # mistake the per-language window avoids)
    from data_warehouse_punta_fina_spark.functions.money import pround6
    from data_warehouse_punta_fina_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", quality_score("text").alias("quality"))
    w = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    return base.withColumn("pct_rank", pround6(F.percent_rank().over(w))).withColumn(
        "keep", F.col("pct_rank") <= 0.5
    )


# per-language token-budget fill, best docs first (exact BIGINT
# cumulative sums — no float drift in the keep cutoff)
@query(f"""
WITH b AS (
  SELECT doc_id, lang, CAST({_N_TOK} AS INT) AS n_tokens, {_r6(_QUALITY)} AS quality
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens, quality,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM b
)
SELECT doc_id, lang, n_tokens, quality, cum_tokens, cum_tokens <= 5000 AS keep FROM c
""", dec=["quality"])
def doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fill a per-language TOKEN budget best-docs-first: cumulative
    # token sum over (quality desc) per language, keep while under
    # budget — how a training mix hits "N tokens per language"
    # without a driver-side loop
    from data_warehouse_punta_fina_spark.functions.text import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        token_count("text").cast("int").alias("n_tokens"),
        # quality_score is already round-6'd — no extra rounding here
        quality_score("text").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "keep", F.col("cum_tokens") <= F.lit(5000)
    )


@query(f"""
SELECT doc_id, n_chars,
       CAST(FLOOR(
         (ln(CAST({_hex13("substr(md5('ws' || '|' || CAST(doc_id AS VARCHAR)), 1, 13)")} + 1 AS DOUBLE)
             / 4503599627370496.0)
          / CAST(n_chars AS DOUBLE)) * 1000000000 + 0.5
       ) / 1000000000 AS DECIMAL(18,9)) AS sample_key
FROM documents
WHERE n_chars > 0
ORDER BY sample_key DESC, doc_id LIMIT 50
""", dec=["sample_key"])
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Efraimidis-Spirakis weighted sample without replacement: 50 docs
    # proportional to n_chars, reproducible across engines/partitions
    # (operators.sampling.weighted_sample)
    from data_warehouse_punta_fina_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", 50, seed="ws")


# target mixture weights + token budget for doc_mixture_alloc — ONE
# definition feeds the Spark literal frame and the oracle VALUES clause
_MIX_WEIGHTS: list[tuple[str, float]] = [
    ("de", 0.3),
    ("en", 0.2),
    ("es", 0.2),
    ("fr", 0.15),
    ("zh", 0.15),
]
_MIX_BUDGET = 20_000

_mix_values = ", ".join(f"('{s}', {w!r})" for s, w in _MIX_WEIGHTS)


@query(mixture_allocation_oracle_sql(
    f"""WITH tl AS (
  SELECT lang AS source, SUM(len({_TOKENS})) AS tokens FROM documents GROUP BY lang
), w(source, weight) AS (VALUES {_mix_values})
SELECT tl.source, tl.tokens, w.weight FROM tl JOIN w USING (source)""",
    _MIX_BUDGET,
    max_iter=len(_MIX_WEIGHTS),
))
def doc_mixture_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-mixture water-filling: allocate a global token budget
    # across languages by target weight; under-supplied languages
    # saturate and their deficit redistributes
    # (operators.mixture.mixture_allocation; unrolled-round oracle)
    from data_warehouse_punta_fina_spark.functions.text import token_count
    from data_warehouse_punta_fina_spark.operators.mixture import mixture_allocation

    docs = load_table(spark, sf_dir, "documents")
    per_lang = (
        docs.select(F.col("lang").alias("source"), token_count("text").alias("_tc"))
        .groupBy("source")
        .agg(F.sum("_tc").alias("tokens"))
    )
    w = literal_table(spark, _MIX_WEIGHTS, "source string, weight double")
    # water-filling converges in ≤ |sources| rounds (≥1 source
    # saturates per non-converged round) — 5 languages → 5 rounds
    return mixture_allocation(
        per_lang.join(F.broadcast(w), "source"), _MIX_BUDGET, max_iter=len(_MIX_WEIGHTS)
    )


# systematic every-97th over the (date, key) total order
@query("""
WITH r AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_orderdate, o_orderpriority FROM r WHERE (rn - 1) % 97 = 0
""")
def orders_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # systematic every-97th sampling over the (date, key) total order
    # — deterministic, evenly spread, no global window
    # (operators.sampling.systematic_sample)
    from data_warehouse_punta_fina_spark.operators.sampling import systematic_sample

    orders = load_table(spark, sf_dir, "orders")
    return systematic_sample(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        ["o_orderdate", "o_orderkey"],
        every_k=97,
    )


# ---- round-6 wave 3: lossless set-similarity join, sequence
# pattern matching ----
# round-8: the end-to-end curated-corpus -> packed-bins manifest —
# the curation oracle runs as a subquery, kept docs pack with the
# doc_pack_bins window (sharded by the PREDICTED language), and the
# bin manifest aggregates — stage-for-stage the Spark composition
@query(f"""
WITH curated AS ({sql_of("doc_curation_report")}),
kept AS (
  SELECT doc_id, n_tokens, lang_pred FROM curated WHERE verdict = 'keep'
), c AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY lang_pred ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM kept
)
SELECT lang_pred AS lang, CAST(FLOOR(cum_before / 512) AS INT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM c GROUP BY 1, 2
""")
def corpus_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the END-TO-END training-data build, stage-composed from
    # verified operators: curation verdict (exact dedup + LSH-verified
    # near-dup + length/quality/language gates, doc_curation_report)
    # -> keep only 'keep' docs -> contiguous-greedy pack into
    # 512-token bins sharded by the PREDICTED language
    # (operators.packing.pack_documents — one window per shard, no
    # global ordering) -> per-bin manifest (docs, tokens, id span).
    # This is the query a trainer's data loader reads.
    from data_warehouse_punta_fina_spark.operators.packing import pack_documents

    report = doc_curation_report(spark, sf_dir)
    kept = report.filter(F.col("verdict") == "keep").select(
        "doc_id", "n_tokens", "lang_pred"
    )
    packed = pack_documents(
        kept,
        budget=512,
        shard_col="lang_pred",
        order_col="doc_id",
        tokens_col=F.col("n_tokens").cast("long"),
    )
    return packed.groupBy(
        F.col("lang_pred").alias("lang"), F.col("bin_id")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# deterministic stratified k-fold: (per-stratum rank − 1) mod k
@query("""
SELECT doc_id, lang,
       CAST((ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1) % 5 AS INT) AS fold
FROM documents
""")
def doc_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic stratified 5-fold split balanced per language
    # (operators.evaluation.stratified_kfold; zero RNG)
    from data_warehouse_punta_fina_spark.operators.evaluation import (
        stratified_kfold,
    )

    docs = load_table(spark, sf_dir, "documents")
    return stratified_kfold(docs.select("doc_id", "lang"), ["lang"], ["doc_id"], k=5)
