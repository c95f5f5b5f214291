"""Training-pair mining for embedding/contrastive model training.

A curation engine's output is not only a cleaned corpus — retrieval and
embedding models train on PAIRS mined from it: positives (documents that
say the same thing) and negatives (documents that don't, ideally
near-misses). This module mines both, deterministically, at corpus scale:

- positives come from the verified near-duplicate graph
  (``dedup.lsh_verified_pairs`` — banded LSH candidates, exact-Jaccard
  verified), the standard weak-supervision source for paraphrase pairs;
- random negatives are HASH-sampled: a deterministic md5 ranking over
  (anchor, candidate) replaces RNG, so the sampled set is reproducible
  on any engine and any partitioning (the repo-wide no-RNG discipline);
- hard negatives come from the ANN tier: neighbors ranked just BELOW the
  top — similar enough to be informative, dissimilar enough to be wrong
  (the "in-batch negatives are too easy" fix every dense-retrieval
  recipe applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.materialize import materialize


def contrastive_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    n_neg: int = 3,
    neg_pool: int = 64,
    seed: str = "cp1",
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(anchor_id, other_id, label, pair_rank): 'pos' rows are the
    LSH-verified near-dup pairs (both orientations — each side anchors);
    'neg' rows are ``n_neg`` deterministic random negatives per anchor.

    Negative sampling shape (scale-sane): a fingerprint-bucketed POOL of
    ~``neg_pool`` documents is drawn once (md5(seed|id) ranking — no RNG)
    and broadcast; each anchor joins the pool, drops itself and its
    positives, ranks candidates by the pairwise hash md5(seed|anchor|id)
    and keeps ``n_neg``. The anchor set never crosses the full corpus —
    the only corpus-wide work is the near-dup mining itself. Pool-based
    sampling means negatives are uniform over the POOL, not the corpus;
    at 100 TB that is exactly the standard recipe (sample a shard,
    broadcast it).

    Everything is engine-portable: both rankings are md5-hex string
    orderings with id tie-breaks, so an external oracle reproduces the
    exact pair set. ``pair_rank`` is 1..n_neg for negatives, 0 for
    positives.
    """
    from data_warehouse_punta_fina_spark.operators.dedup import lsh_verified_pairs

    pos_pairs = materialize(
        lsh_verified_pairs(
            docs, text_col, id_col, num_hashes=num_hashes, bands=bands, threshold=threshold
        ).select("id_a", "id_b")
    )
    pos = (
        pos_pairs.select(F.col("id_a").alias("anchor_id"), F.col("id_b").alias("other_id"))
        .unionByName(
            pos_pairs.select(F.col("id_b").alias("anchor_id"), F.col("id_a").alias("other_id"))
        )
        .withColumn("label", F.lit("pos"))
        .withColumn("pair_rank", F.lit(0))
    )
    anchors = pos.select("anchor_id").distinct()
    # deterministic pool: the neg_pool smallest md5(seed|id) docs —
    # TakeOrdered (per-partition top-k + driver merge), then broadcast
    pool = (
        docs.select(F.col(id_col).alias("cand_id"))
        .withColumn("_pk", F.md5(F.concat_ws("|", F.lit(seed), F.col("cand_id"))))
        .orderBy("_pk", "cand_id")
        .limit(neg_pool)
        .select("cand_id")
    )
    cand = (
        anchors.join(F.broadcast(pool), F.col("anchor_id") != F.col("cand_id"))
        .join(
            pos.select("anchor_id", F.col("other_id").alias("cand_id")),
            ["anchor_id", "cand_id"],
            "left_anti",
        )
        .withColumn(
            "_pk",
            F.md5(F.concat_ws("|", F.lit(seed), F.col("anchor_id"), F.col("cand_id"))),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("_pk", "cand_id")
    neg = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_neg)
        .select(
            "anchor_id",
            F.col("cand_id").alias("other_id"),
            F.lit("neg").alias("label"),
            F.col("_rn").alias("pair_rank"),
        )
    )
    return pos.select("anchor_id", "other_id", "label", F.col("pair_rank").cast("int")).unionByName(
        neg.select("anchor_id", "other_id", "label", F.col("pair_rank").cast("int"))
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    lo_rank: int = 6,
    hi_rank: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard negatives from the ANN tier: each query's neighbors ranked
    [lo_rank, hi_rank] by exact cosine — close enough to teach the
    boundary, far enough to be (presumed) non-duplicates. The top
    lo_rank−1 are excluded as likely positives. One brute-force scan
    shape (:func:`similarity.brute_force_topk` — map-side per-partition
    top-k, queries broadcast); at warehouse scale swap the scan for the
    trained-IVF/PQ candidate path and re-rank exactly, same contract.
    Output: (query_id, neighbor_id, cosine, rank)."""
    from data_warehouse_punta_fina_spark.operators.similarity import brute_force_topk

    topk = brute_force_topk(corpus, queries, k=hi_rank, id_col=id_col, vec_col=vec_col)
    return topk.filter(F.col("rank") >= lo_rank).withColumn(
        "rank", F.col("rank").cast("int")
    )
