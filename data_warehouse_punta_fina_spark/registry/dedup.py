"""Deduplication and record linkage: exact/MinHash/SimHash/n-gram near-dup
detection, persisted band indexes, segment dedup and blocking quality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround2, pround6
from data_warehouse_punta_fina_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from data_warehouse_punta_fina_spark.operators.linkage import fellegi_sunter_oracle_sql
from data_warehouse_punta_fina_spark.registry.shared import (
    _MINHASH_PAIRS_SQL,
    _MINHASH_SIG_CTES,
    _R6D,
    _SHINGLES,
    _TOKENS,
    _data_fingerprint,
    _index_cache_dir,
    _r2,
    _r6,
    query,
    sql_of,
)
from data_warehouse_punta_fina_spark.sources.readers import load_table, read_parquet


@query(f"""
SELECT l_orderkey AS orden_id, l_linenumber AS linea, l_partkey AS producto_externo_id,
       {_r2("l_quantity")} AS cantidad, {_r2("l_extendedprice")} AS precio
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY l_orderkey, l_linenumber
  ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax,
           l_returnflag, l_linestatus, l_shipdate
) = 1
""", dec=["cantidad", "precio"])
def dedup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.dedup import dedupe_by_grain

    li = load_table(spark, sf_dir, "lineitem")
    deduped = dedupe_by_grain(
        li,
        ["l_orderkey", "l_linenumber"],
        [
            F.col("l_partkey"),
            F.col("l_suppkey"),
            F.col("l_quantity"),
            F.col("l_extendedprice"),
            F.col("l_discount"),
            F.col("l_tax"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.col("l_shipdate"),
        ],
    )
    return deduped.select(
        F.col("l_orderkey").alias("orden_id"),
        F.col("l_linenumber").alias("linea"),
        F.col("l_partkey").alias("producto_externo_id"),
        pround2("l_quantity").alias("cantidad"),
        pround2("l_extendedprice").alias("precio"),
    )


# winnowing (SIGMOD 2003): 8-hex-md5 k-gram hashes packed as
# hash*2^31 + (2^31-1-pos) so MIN over the w-window is the rightmost
# minimum — the exact twin of operators/winnow.py
_hex8 = (
    "list_sum(list_transform(range(1, 9), j -> "
    "CAST(strpos('0123456789abcdef', substr({e}, j, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (8 - j)))))"
)


@query(f"""
WITH toks AS (SELECT doc_id, {_TOKENS} AS ts FROM documents),
g AS (
  SELECT doc_id, u.pos, u.gram
  FROM (
    SELECT doc_id,
           unnest([{{'pos': j - 1, 'gram': array_to_string(ts[j:j+3], ' ')}}
                   FOR j IN generate_series(1, len(ts) - 3)]) AS u
    FROM toks
  )
),
comb AS (
  SELECT doc_id, pos,
         {_hex8.format(e="md5(gram)")} * 2147483648 + (2147483647 - pos) AS c
  FROM g
),
win AS (
  SELECT doc_id, pos,
         MIN(c) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel,
         MAX(pos) OVER (PARTITION BY doc_id) AS last
  FROM comb
),
fp AS (
  SELECT DISTINCT doc_id, sel >> 31 AS fp_hash
  FROM win WHERE pos >= 3 OR pos = last
),
rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 50),
capped AS (SELECT f.doc_id, f.fp_hash FROM fp f JOIN rare r USING (fp_hash)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
  FROM capped a JOIN capped b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= 3
)
SELECT p.id_a, p.id_b, CAST(p.shared_fp AS INT) AS shared_fp,
       CAST(sa.n AS INT) AS fp_a, CAST(sb.n AS INT) AS fp_b,
       CAST(FLOOR(CAST(p.shared_fp AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
                  * 1000000 + 0.5) / 1000000 AS DOUBLE) AS overlap
FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a JOIN sizes sb ON sb.doc_id = p.id_b
""")
def doc_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken, SIGMOD
    # 2003 — the MOSS scheme): per-doc rightmost-min-of-window k-gram
    # hash selection, then a fingerprint-blocked pair join with a
    # document-frequency cap — position-robust LOCAL overlap evidence
    # (quotes/boilerplate) that MinHash resemblance and SimHash bit
    # profiles can't localize (operators/winnow.py)
    from data_warehouse_punta_fina_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=4, w=4)
    return winnow_overlap(fp, max_df=50, min_shared=3)


@query("""
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
""")
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


@query(_MINHASH_PAIRS_SQL)
def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), num_hashes=12, bands=4)


@query(f"""
WITH sh0 AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sh AS (
  SELECT * FROM sh0 WHERE shingle NOT IN (
    SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) > 64)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} >= 0.2
""", dec=["jaccard"])
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_shingle_df bounds the hottest inverted-index key: shingles in
    # >64 docs are stopword-shingles (no near-dup signal) and would fan
    # out quadratically at corpus scale
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2, max_shingle_df=64
    )


@query(f"""
WITH cand AS ({_MINHASH_PAIRS_SQL}),
sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} >= 0.2
""", dec=["jaccard"])
def doc_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the at-scale dedup composition: LSH candidates → exact Jaccard
    # verify on candidates only (never the all-pairs inverted index)
    from data_warehouse_punta_fina_spark.operators.dedup import lsh_verified_pairs

    return lsh_verified_pairs(
        load_table(spark, sf_dir, "documents"), num_hashes=12, bands=4, threshold=0.2
    )


_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, substr(md5(tok), 1, 8) AS hx FROM toks
), votes AS (
  SELECT doc_id, j,
         SUM(((strpos('0123456789abcdef', substr(hx, CAST(FLOOR(j / 4) AS INT) + 1, 1)) - 1)
              >> (3 - (j % 4))) % 2 * 2 - 1) AS vote
  FROM h CROSS JOIN range(32) t(j)
  GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << (31 - j)) ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(fp.simhash, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
"""


@query(_SIMHASH_SQL)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load_table(spark, sf_dir, "documents"), bits=32)


@query(f"""
WITH fp AS ({_SIMHASH_SQL}),
banded AS (
  SELECT doc_id, simhash, k AS band, (simhash >> (8 * CAST(k AS INT))) & 255 AS band_val
  FROM fp CROSS JOIN range(4) t(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2
""")
def doc_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(load_table(spark, sf_dir, "documents"), max_hamming=2)


# SimHash-blocked candidates verified by true edit distance — both
# engines run the identical Levenshtein DP, so dist is exact; only
# the ratio is rounded (portable round-6).
@query(f"""
WITH fp AS ({_SIMHASH_SQL}),
banded AS (
  SELECT doc_id, simhash, k AS band, (simhash >> (8 * CAST(k AS INT))) & 255 AS band_val
  FROM fp CROSS JOIN range(4) t(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
ham AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
  FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
),
verified AS (
  SELECT h.id_a, h.id_b, h.hamming,
         CAST(levenshtein(da.text, db.text) AS INT) AS dist,
         CAST({_r6("CAST(levenshtein(da.text, db.text) AS DOUBLE) / greatest(length(da.text), length(db.text), 1)")} AS DOUBLE) AS ratio
  FROM ham h
  JOIN documents da ON da.doc_id = h.id_a
  JOIN documents db ON db.doc_id = h.id_b
)
SELECT id_a, id_b, hamming, dist, ratio FROM verified WHERE ratio <= 0.6
""")
def doc_edit_distance_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # strictest verify tier: SimHash-blocked candidates confirmed by
    # true Levenshtein distance (identical DP in both engines) — only
    # candidate texts are read, never all-pairs
    from data_warehouse_punta_fina_spark.operators.dedup import edit_distance_near_dup

    return edit_distance_near_dup(
        load_table(spark, sf_dir, "documents"), max_hamming=3, max_ratio=0.6
    )


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
)
SELECT src AS doc_id, MIN(dst) AS cluster_id, (src = MIN(dst)) AS is_canonical
FROM reach GROUP BY src
""")
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    return dedup_clusters(docs.select("doc_id"), pairs, max_iter=30)


# kept-corpus emitter: same recursive connected components, then
# one row per canonical doc with its cluster size (the Spark side
# runs the large-star/small-star variant, proven equal to label
# propagation by pytest and to this reachability oracle here)
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
sizes AS (SELECT cluster_id, COUNT(*) AS n_members FROM clusters GROUP BY cluster_id)
SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars,
       CAST(s.n_members AS INT) AS n_members
FROM documents d
JOIN clusters c ON d.doc_id = c.doc_id AND d.doc_id = c.cluster_id
JOIN sizes s ON s.cluster_id = c.cluster_id
""")
def doc_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the END-TO-END fuzzy-dedup pipeline a training-data curator runs:
    # LSH candidate pairs → connected components (the O(log n)
    # large-star/small-star variant — web-scale duplicate chains) →
    # keep ONE canonical doc per cluster, reporting how many near-dup
    # copies each kept doc absorbs
    from data_warehouse_punta_fina_spark.operators.dedup import dedup_clusters_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    clusters = dedup_clusters_star(docs.select("doc_id"), pairs, max_iter=30)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    kept = (
        clusters.filter(F.col("is_canonical"))
        .join(sizes, "cluster_id")
        .select("doc_id", F.col("n_members").cast("int").alias("n_members"))
    )
    return docs.select(
        "doc_id", F.length("text").cast("int").alias("n_chars")
    ).join(kept, "doc_id")


# tf-idf cosine all-pairs similarity: INTEGER fixed-point mirror of
# operators.retrieval.tfidf_doc_pairs — weights in ten-thousandths
# (BIGINT), unit weights in billionths (BIGINT), exact integer norm
# and dot-product sums; every float step is a single correctly-
# rounded IEEE op, so both engines are bit-identical by construction.
@query(f"""
WITH d AS (SELECT * FROM documents WHERE doc_id < 200),
toks AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM d),
postings AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
nd AS (SELECT COUNT(*) AS n FROM d),
w AS (
  SELECT p.doc_id, p.term,
         CAST(FLOOR(((1.0 + ln(CAST(p.tf AS DOUBLE)))
              * (FLOOR((ln((nd.n + 1.0) / (dfs.df + 1.0)) + 1.0) * 1000000.0 + 0.5) / 1000000.0))
              * 10000.0 + 0.5) AS BIGINT) AS wi
  FROM postings p JOIN dfs USING (term) CROSS JOIN nd
),
norms AS (SELECT doc_id, SUM(wi * wi) AS norm2 FROM w GROUP BY doc_id),
unitv AS (
  SELECT w.doc_id, w.term,
         CAST(FLOOR((CAST(w.wi AS DOUBLE) / sqrt(CAST(n2.norm2 AS DOUBLE)))
              * 1000000000.0 + 0.5) AS BIGINT) AS u
  FROM w JOIN norms n2 USING (doc_id)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.u * b.u) AS dot
  FROM unitv a JOIN unitv b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
simt AS (
  SELECT doc_a, doc_b,
         FLOOR((CAST(dot AS DOUBLE) / 1e18) * 1000000.0 + 0.5) / 1000000.0 AS sim
  FROM pairs
),
sym AS (
  SELECT doc_a, doc_b, sim FROM simt
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b, sim FROM simt
)
SELECT doc_a, doc_b, CAST(sim AS DOUBLE) AS sim,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY sim DESC, doc_b) AS INT) AS rank
FROM sym QUALIFY rank <= 5
""")
def doc_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weighted all-pairs similarity (Bayardo et al. 2007): tf-idf
    # cosine top-5 neighbors per doc over the inverted-index self-join
    # (operators.retrieval.tfidf_doc_pairs). Restricted to doc_id<200
    # so the sf-proportional pair fan-out stays correctness-sized;
    # at scale the df_cap bounds it instead.
    from data_warehouse_punta_fina_spark.operators.dedup import _spread
    from data_warehouse_punta_fina_spark.operators.retrieval import tfidf_doc_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return tfidf_doc_pairs(_spread(docs), k=5)


@query(f"""
WITH base AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
ex AS (
  SELECT doc_id, CAST(u.s AS INT) AS pos,
         array_to_string(toks[CAST(u.s AS INT) + 1:CAST(u.s AS INT) + 24], ' ') AS seg
  FROM base, unnest(range(0, len(toks), 24)) u(s)
  WHERE len(toks) > 0
),
rn AS (
  SELECT doc_id, pos, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS r
  FROM ex
),
tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM ex GROUP BY doc_id),
reb AS (
  SELECT doc_id, COUNT(*) AS n_kept, string_agg(seg, ' ' ORDER BY pos) AS cleaned_text
  FROM rn WHERE r = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(tot.n_segments, 0) AS n_segments,
       COALESCE(reb.n_kept, 0) AS n_kept,
       COALESCE(reb.cleaned_text, '') AS cleaned_text
FROM documents d
LEFT JOIN tot USING (doc_id)
LEFT JOIN reb USING (doc_id)
""")
def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4/CCNet-style segment dedup + reassembly: 24-token segments,
    # corpus-wide keep-first, docs rebuilt from surviving segments
    # (operators.dedup.dedup_segments)
    from data_warehouse_punta_fina_spark.operators.dedup import (
        dedup_segments,
        fixed_token_segments,
    )

    docs = load_table(spark, sf_dir, "documents")
    return dedup_segments(docs, fixed_token_segments("text", 24))


# Incremental ingestion dedup: odd-id "new batch" vs even-id indexed
# corpus — band-join candidates (new × index only), exact Jaccard
# verify, best match per new doc (ties to smallest corpus id).
@query(f"""
WITH {_MINHASH_SIG_CTES}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
), verified AS (
  SELECT id_a, id_b,
         {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} AS jaccard
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE {_r6("CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)")} >= 0.2
), best AS (
  SELECT id_b, id_a AS match_id, jaccard,
         ROW_NUMBER() OVER (PARTITION BY id_b ORDER BY jaccard DESC, id_a) AS rn
  FROM verified
)
SELECT n.doc_id, b.match_id IS NOT NULL AS is_dup,
       b.match_id, CAST(b.jaccard AS DOUBLE) AS jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) n
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON n.doc_id = b.id_b
""")
def doc_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental ingestion: odd-id docs arrive as the "new batch" and
    # dedupe against the even-id indexed corpus (band join new×index,
    # exact Jaccard verify on candidates only)
    from data_warehouse_punta_fina_spark.operators.dedup import _spread, incremental_lsh_dedup

    docs = _spread(load_table(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_lsh_dedup(corpus, new_batch, threshold=0.2)


# the persisted-band-index ingestion produces byte-identical values to
# the in-query-indexed one (same versioned band scheme) — reuse verbatim
@query(sql_of("doc_incremental_dedup"))
def doc_incremental_dedup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the steady-state ingestion shape: the corpus band index is
    # PERSISTED (minhash_band_keys written partitionBy(band), built
    # once per data fingerprint — parameter metadata rides the
    # band_key column and is validated by incremental_lsh_dedup), so
    # each arriving batch joins the STORED index instead of
    # re-hashing the corpus; verify still tokenizes only candidate
    # docs. Values identical to doc_incremental_dedup (same band
    # scheme), so the oracle is reused verbatim.
    import os

    from data_warehouse_punta_fina_spark.operators.dedup import (
        _spread,
        incremental_lsh_dedup,
        minhash_band_keys,
    )

    fp = _data_fingerprint(sf_dir, "documents")
    idx = _index_cache_dir("lsh_bands", f"h12_b4_n3_{fp}")

    docs = _spread(load_table(spark, sf_dir, "documents"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        minhash_band_keys(corpus).write.mode("overwrite").partitionBy(
            "band"
        ).parquet(idx)
    bands = read_parquet(spark, idx)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_lsh_dedup(
        corpus, new_batch, threshold=0.2, corpus_bands=bands
    )


# Fellegi-Sunter comparator set for the customer↔supplier linkage query —
# ONE definition feeds both the Spark plan and the generated oracle SQL
def _link_fields():
    from data_warehouse_punta_fina_spark.operators.linkage import FieldCompare

    return [
        FieldCompare("ref", "ref_num", "ref_num", m=0.95, u=0.001, kind="exact"),
        FieldCompare("bal", "bal", "bal", m=0.9, u=0.01, kind="abs_diff", tol=5.0),
    ]


_link_a = """SELECT c_custkey, CAST(regexp_extract(c_name, '#(\\d+)', 1) AS BIGINT) AS ref_num,
       c_nationkey AS nat, CAST(FLOOR(c_acctbal / 100) AS BIGINT) AS band, c_acctbal AS bal
FROM customer"""
_link_b = """SELECT s_suppkey, CAST(regexp_extract(s_name, '#(\\d+)', 1) AS BIGINT) AS ref_num,
       s_nationkey AS nat, CAST(FLOOR(s_acctbal / 100) AS BIGINT) AS band, s_acctbal AS bal
FROM supplier"""


@query(fellegi_sunter_oracle_sql(
    _link_a,
    _link_b,
    "c_custkey",
    "s_suppkey",
    ["nat", "band"],
    ["nat", "band"],
    _link_fields(),
    match_threshold=6.0,
    review_threshold=2.0,
))
def customer_supplier_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fellegi-Sunter probabilistic record linkage with blocking:
    # customers × suppliers blocked on (nation, 100-wide balance
    # band), scored on reference-number equality + balance proximity
    # (operators.linkage.fellegi_sunter_link; oracle generated from
    # the same FieldCompare list)
    from data_warehouse_punta_fina_spark.operators.linkage import (
        fellegi_sunter_link,
    )

    a = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.regexp_extract("c_name", "#(\\d+)", 1).cast("bigint").alias("ref_num"),
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("c_acctbal") / F.lit(100)).cast("bigint").alias("band"),
        F.col("c_acctbal").alias("bal"),
    )
    b = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"),
        F.regexp_extract("s_name", "#(\\d+)", 1).cast("bigint").alias("ref_num"),
        F.col("s_nationkey").alias("nat"),
        F.floor(F.col("s_acctbal") / F.lit(100)).cast("bigint").alias("band"),
        F.col("s_acctbal").alias("bal"),
    )
    return fellegi_sunter_link(
        a,
        b,
        "c_custkey",
        "s_suppkey",
        ["nat", "band"],
        ["nat", "band"],
        _link_fields(),
        match_threshold=6.0,
        review_threshold=2.0,
    )


# prefix filtering is LOSSLESS, so the oracle is the brute shared-
# token all-pairs Jaccard (identical qualifying set by construction)
@query(f"""
WITH toks AS (SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok FROM documents),
sizes AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS intersection
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, na.nt AS n_a, nb.nt AS n_b, intersection,
       {_R6D.format(e="CAST(intersection AS DOUBLE) / CAST(na.nt + nb.nt - intersection AS DOUBLE)")} AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(intersection AS DOUBLE) / CAST(na.nt + nb.nt - intersection AS DOUBLE) >= 0.95
""")
def doc_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ALL token-set pairs with Jaccard >= 0.95 via prefix filtering —
    # exact, unlike the LSH tier; candidates join only on each doc's
    # rarest-token prefix (operators.setjoin.prefix_jaccard_join)
    from data_warehouse_punta_fina_spark.operators.setjoin import (
        prefix_jaccard_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    return prefix_jaccard_join(docs, "doc_id", "text", threshold=0.95)


# ---- round-6 wave 7: blocking-quality evaluation ----
# blocking quality: lossless token-Jaccard truth vs the MinHash
# banding candidates (reuses _MINHASH_PAIRS_SQL verbatim)
@query(f"""
WITH toksq AS (SELECT doc_id, unnest(list_distinct({_TOKENS})) AS tok FROM documents),
sizesq AS (SELECT doc_id, COUNT(*) AS nt FROM toksq GROUP BY doc_id),
interq AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM toksq a JOIN toksq b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT id_a, id_b FROM interq
  JOIN sizesq na ON na.doc_id = id_a JOIN sizesq nb ON nb.doc_id = id_b
  WHERE CAST(i AS DOUBLE) / CAST(na.nt + nb.nt - i AS DOUBLE) >= 0.95
),
cand AS (SELECT id_a, id_b FROM ({_MINHASH_PAIRS_SQL}) c),
tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
ca AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_caught
       FROM truth t JOIN cand c USING (id_a, id_b)),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT n_docs, n_true, n_candidates, n_caught,
       CASE WHEN n_true > 0
            THEN {_R6D.format(e="CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE)")}
       END AS blocking_recall,
       {_R6D.format(e="1.0 - CAST(n_candidates AS DOUBLE) / (CAST(n_docs * (n_docs - 1) AS DOUBLE) / 2.0)")} AS reduction_ratio
FROM tc CROSS JOIN cc CROSS JOIN ca CROSS JOIN nd
""")
def lsh_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # "measure, don't guess" for the lossy tier itself: the LOSSLESS
    # prefix join (token Jaccard >= 0.95) is the ground-truth pair
    # set; MinHash-LSH banding is the blocker under evaluation. One
    # row: blocking recall (caught/true) and reduction ratio
    # (1 - candidates/all-pairs) — the two numbers every blocking
    # design trades against each other. On THIS corpus the result
    # is deliberately instructive: recall ~0.01 at reduction 0.9998
    # (sf0.01) because 3-shingle MinHash blocks on word ORDER while
    # the truth here is order-free token-set Jaccard — the
    # definition mismatch a real pipeline must check before trusting
    # its blocker, which is exactly what this query measures
    from data_warehouse_punta_fina_spark.operators.setjoin import (
        prefix_jaccard_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    truth = prefix_jaccard_join(docs, "doc_id", "text", threshold=0.95).select(
        "id_a", "id_b"
    )
    cand = minhash_lsh_pairs(docs, num_hashes=12, bands=4)
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_candidates"))
    caught = (
        truth.join(cand, ["id_a", "id_b"], "left_semi")
        .agg(F.count("*").alias("n_caught"))
    )
    nd = docs.agg(F.count("*").alias("n_docs"))
    row = (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(caught))
        .crossJoin(F.broadcast(nd))
    )
    all_pairs = (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double") / 2.0
    return row.select(
        "n_docs",
        "n_true",
        "n_candidates",
        "n_caught",
        F.when(
            F.col("n_true") > 0,
            pround6(F.col("n_caught").cast("double") / F.col("n_true").cast("double")),
        )
        .cast("double")
        .alias("blocking_recall"),
        pround6(F.lit(1.0) - F.col("n_candidates").cast("double") / all_pairs)
        .cast("double")
        .alias("reduction_ratio"),
    )
