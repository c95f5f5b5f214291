"""Round-10 operator gates: the persisted-index hybrid's plan shape,
the leakage-safe split's zero-cross-split contamination claim, and the
adversarial-partition determinism gate for both debuts."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_contamination_safe_split_zero_cross_lsh(spark):
    """The leakage-safe split's core claim as numbers: under the
    cluster-derived split, ZERO LSH near-dup pairs straddle the
    train/eval boundary (structural — both endpoints share a cluster_id
    and the bucket is a function of cluster_id), while the plain hash
    split leaks. The shingle screen's count may stay nonzero (it is a
    broader detector than LSH) but must not grow."""
    import __spark_entry__ as entrymod

    rows = {
        r["scheme"]: (r["n_cross_lsh_pairs"], r["n_contam_pairs"])
        for r in entrymod.all_queries()["doc_contamination_safe_split"](
            spark, SF
        ).collect()
    }
    assert set(rows) == {"hash", "cluster"}
    assert rows["cluster"][0] == 0
    # the hash split DOES leak on this testdata (the claim is vacuous
    # otherwise) and the cluster split never leaks more than it
    assert rows["hash"][0] > 0
    assert rows["cluster"][1] <= rows["hash"][1]


def test_hybrid_pq_searches_persisted_index(spark):
    """doc_hybrid_rrf_search_pq's semantic side must read the PERSISTED
    IVF-PQ artifacts (cid-partitioned codes with dynamic partition
    pruning from the broadcast query→cell join) — not train in-query:
    at 100 TB the absence of a training job IS the operator. The fused
    rows must equal the in-query-trained twin's semantic side feeding
    the same fusion (RNG-free training ⇒ bit-identical)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    df = qs["doc_hybrid_rrf_search_pq"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ivfpq" in plan  # the persisted index path is scanned
    assert "dynamicpruning" in plan.lower()
    rows = df.collect()
    assert len(rows) == 20  # 4 queries x top-5
    assert {r["query_id"] for r in rows} == {1, 2, 3, 4}
    # every fused row carries provenance flags and a 1..5 rank
    assert all(1 <= r["rank"] <= 5 and (r["in_lex"] or r["in_sem"]) for r in rows)


def test_hybrid_pq_fused_overlap_vs_brute(spark):
    """Recall story for the deployment shape: the PQ-backed hybrid's
    fused top-5 sets overlap the brute-force hybrid's at >= 16/20 at
    sf0.001 (RRF absorbs most of the quantizer's recall loss; the
    measured values are 18-20/20 across SFs — docs/BENCH_NOTES.md)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    brute = {
        (r["query_id"], r["doc_id"])
        for r in qs["doc_hybrid_rrf_search"](spark, SF).collect()
    }
    pq = {
        (r["query_id"], r["doc_id"])
        for r in qs["doc_hybrid_rrf_search_pq"](spark, SF).collect()
    }
    assert len(brute) == 20 and len(pq) == 20
    assert len(brute & pq) >= 16


def test_bm25_persisted_index_equals_inquery_and_prunes(spark, tmp_path):
    """The persisted BM25 inverted index (operators/retrieval): (a) the
    stored-index search is bit-equal to the in-query tokenize path
    (deterministic scoring — the identity the reused oracle relies on);
    (b) the search plan reads the bucket-partitioned postings with
    dynamic partition pruning and never tokenizes the corpus (the
    doc_bm25_persisted_topk plan touches documents.parquet ZERO times —
    its queries are literal); (c) scheme-metadata validation rejects a
    foreign index instead of silently mis-scoring."""
    import pytest

    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_search_index,
    )

    qs = entrymod.all_queries()
    a = sorted(map(tuple, qs["doc_bm25_topk"](spark, SF).collect()))
    df_p = qs["doc_bm25_persisted_topk"](spark, SF)
    assert sorted(map(tuple, df_p.collect())) == a
    plan = df_p._jdf.queryExecution().executedPlan().toString()
    # literal queries → STATIC bucket partition filter (long index paths
    # get elided in FileScan locations, so match the cache-key prefix)
    assert "b16_" in plan
    assert "bucket" in plan and "PartitionFilters: [bucket" in plan.replace(
        "PartitionFilters: [isnotnull(bucket", "PartitionFilters: [bucket"
    )
    assert plan.count("documents.parquet") == 0  # corpus never touched
    # fully-persisted hybrid == persisted-IVFPQ hybrid (lex identity),
    # and its filtered query side triggers DYNAMIC partition pruning
    df_h = qs["doc_hybrid_rrf_search_persisted"](spark, SF)
    hplan = df_h._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in hplan.lower()
    hp = sorted(map(tuple, df_h.collect()))
    assert hp == sorted(map(tuple, qs["doc_hybrid_rrf_search_pq"](spark, SF).collect()))

    # parameter validation: an index whose tf column lost its metadata
    # is rejected
    idx = str(tmp_path / "bm25_stripped")
    docs = spark.createDataFrame(
        [(1, "spark sql engine"), (2, "duck db oracle"), (3, "spark shuffle")],
        "doc_id long, text string",
    )
    bm25_build_index(docs, idx, n_buckets=4)
    stripped = str(tmp_path / "bm25_noscheme")
    for part in ("postings", "dfstats", "stats"):
        sub = spark.read.parquet(f"{idx}/{part}")
        if part == "postings":
            sub = sub.select(
                "term", "doc_id", F.col("tf").alias("tf", metadata={}), "dl", "bucket"
            )
            sub.write.partitionBy("bucket").parquet(f"{stripped}/{part}")
        else:
            sub.write.parquet(f"{stripped}/{part}")
    qt = spark.createDataFrame([(9, "spark")], "query_id int, term string")
    with pytest.raises(ValueError, match="no parameter metadata"):
        bm25_search_index(qt, stripped, k=2)


def test_bm25_append_index_equals_full_rebuild(spark, tmp_path):
    """The inverted index's append path: build on half the corpus,
    append the other half — search results must be BIT-equal to a full
    rebuild over the union (BM25's global df/avgdl/n re-aggregate from
    the stored postings during append), and appending to a
    scheme-stripped index is rejected."""
    import pytest

    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_build_index,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 100)
    full_idx = str(tmp_path / "full")
    inc_idx = str(tmp_path / "inc")
    bm25_build_index(docs, full_idx, n_buckets=8)
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), inc_idx, n_buckets=8)
    bm25_append_index(docs.filter(F.col("doc_id") % 2 == 1), inc_idx)

    qt = (
        docs.filter(F.col("doc_id").isin([1, 2]))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    a = sorted(map(tuple, bm25_search_index(qt, full_idx, k=5).collect()))
    b = sorted(map(tuple, bm25_search_index(qt, inc_idx, k=5).collect()))
    assert a == b and len(a) == 10

    # foreign-scheme append rejected
    stripped = str(tmp_path / "stripped")
    src = spark.read.parquet(f"{inc_idx}/postings")
    src.select(
        "term", "doc_id", F.col("tf").alias("tf", metadata={}), "dl", "bucket"
    ).write.partitionBy("bucket").parquet(f"{stripped}/postings")
    with pytest.raises(ValueError, match="no parameter metadata"):
        bm25_append_index(docs.limit(1), stripped)


def test_bm25_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """Streaming lexical retrieval (streaming/bm25_stream.py — the
    fourth persisted-artifact streaming twin): drain chunked
    (query_id, term) rows availableNow against a PERSISTED BM25
    inverted index — the union of per-batch rankings must equal one
    batch-mode search of all queries (searches are per-query
    independent, the index static), and a replayed batch overwrites
    its own partition (exactly-once)."""
    import os
    import shutil
    import time as _t

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        BATCH_COL,
        bm25_stream_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream
    from data_warehouse_punta_fina_spark.functions.text import tokens as _tokens

    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "bm25")
    bm25_build_index(docs, idx, n_buckets=8)

    # query batches: documents 1-6's own tokens (query-by-example)
    qterms = (
        docs.filter(F.col("doc_id").isin([1, 2, 3, 4, 5, 6]))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(_tokens(F.col("text"))).alias("term"),
        )
        .distinct()
    )
    qid_batches = [[1, 2], [3, 4], [5, 6]]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    for i, ids in enumerate(qid_batches):
        qterms.filter(F.col("query_id").isin(ids)).coalesce(1).write.parquet(
            f"{in_dir}/batch{i}", mode="overwrite"
        )
        _t.sleep(1.1)
        for f in os.listdir(f"{in_dir}/batch{i}"):
            if f.endswith(".parquet") and not f.startswith("."):
                shutil.move(f"{in_dir}/batch{i}/{f}", f"{in_dir}/b{i}_{f}")
        shutil.rmtree(f"{in_dir}/batch{i}")

    results_path = str(tmp_path / "results")
    q = drain(
        read_file_stream(spark, in_dir, qterms.schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
        partial(
            bm25_stream_batch,
            index_dir=idx,
            results_path=results_path,
            k=3,
            exclude_query_doc=True,
        ),
    )
    q.awaitTermination(120)

    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in spark.read.parquet(results_path).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in bm25_search_index(
            qterms, idx, k=3, exclude_query_doc=True
        ).collect()
    }
    assert len(got) == 6 * 3 and got == want

    # idempotent retry: one batch replayed through the foreachBatch body
    results = spark.read.parquet(results_path)
    grouping = {
        r["query_id"]: r[BATCH_COL]
        for r in results.select("query_id", BATCH_COL).collect()
    }
    last = max(set(grouping.values()))
    replay_ids = [i for i, g in grouping.items() if g == last]
    bm25_stream_batch(
        qterms.filter(F.col("query_id").isin(replay_ids)),
        last,
        idx,
        results_path,
        k=3,
        exclude_query_doc=True,
    )
    again = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["score"])
        for r in spark.read.parquet(results_path).collect()
    }
    assert again == want


def test_bm25_prf_expansion_degenerates_and_widens(spark):
    """PRF query expansion (retrieval.bm25_prf_topk): with fb_terms=0
    the second pass sees exactly the original terms, so results equal
    plain bm25_topk (the degenerate identity); with expansion on, every
    query still returns a full 1..5 ranking and at least one query's
    result set moves (the feedback terms matter on this corpus)."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_prf_topk,
        bm25_topk,
    )
    from data_warehouse_punta_fina_spark.registry import retrieval
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    queries = retrieval._BM25_QUERIES
    plain = sorted(map(tuple, bm25_topk(docs, queries, k=5).collect()))
    degenerate = sorted(
        map(tuple, bm25_prf_topk(docs, queries, k=5, fb_docs=3, fb_terms=0).collect())
    )
    assert degenerate == plain
    rows = bm25_prf_topk(docs, queries, k=5, fb_docs=3, fb_terms=5).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    assert sorted(map(tuple, rows)) != plain  # expansion changed something


def test_index_cache_touch_on_use_prevents_self_eviction():
    """Regression (round-10 incident): _index_cache_dir's LRU eviction is
    mtime-ordered with a 1h grace, but mtimes only changed on write — an
    aged-but-in-use entry (the federated search's other shard) could be
    evicted by a sibling lookup in the same query. Touch-on-use must
    protect any entry looked up moments ago, while genuinely stale
    entries beyond the keep limit still evict."""
    import os
    import shutil
    import time

    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark.registry import shared

    fam = "pytest_touch_fam"
    fam_dir = os.path.join(os.path.dirname(os.path.abspath(entrymod.__file__)), ".indexes", fam)
    shutil.rmtree(fam_dir, ignore_errors=True)
    try:
        old = time.time() - 7200  # all entries 2h old: past the 1h grace
        for i in range(6):
            d = os.path.join(fam_dir, f"e{i}")
            os.makedirs(d)
            os.utime(d, (old, old))
        # look up e0 (touch-on-use refreshes it) ...
        assert shared._index_cache_dir(fam, "e0").endswith("e0")
        # ... then a sibling lookup runs the eviction pass: e0 must
        # survive (just used), while stale siblings beyond keep evict
        shared._index_cache_dir(fam, "e1")
        assert os.path.isdir(os.path.join(fam_dir, "e0"))
        remaining = set(os.listdir(fam_dir))
        assert "e0" in remaining and len(remaining) < 6
    finally:
        shutil.rmtree(fam_dir, ignore_errors=True)


def test_federated_ann_merges_shard_topk(spark):
    """Sharded federated ANN (similarity.ivfpq_federated_search): the
    global top-5 per query must be exactly the rank-merge of the
    per-shard exact-reranked lists — every returned neighbor carries
    its shard's exact cosine, ranks are 1..5 per query, and the result
    is invariant under a hostile shuffle-partition count."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    rows = qs["ann_ivfpq_federated_topk"](spark, SF).collect()
    assert len(rows) == 8 * 5
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"], r["neighbor_id"]))
    for q, lst in by_q.items():
        lst.sort()
        assert [r for r, _, _ in lst] == [1, 2, 3, 4, 5]
        cos = [c for _, c, _ in lst]
        assert cos == sorted(cos, reverse=True)  # rank follows cosine desc
        assert all(n != q for _, _, n in lst)  # self excluded per shard
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = sorted(map(tuple, qs["ann_ivfpq_federated_topk"](spark, SF).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert again == sorted(map(tuple, rows))


def test_round10_debuts_invariant_under_adversarial_partitions(spark):
    """Driver-hash determinism gate (the established debut rule): both
    round-10 debuts return identical rows under a hostile
    shuffle-partition count."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    names = [
        "doc_hybrid_rrf_search_pq",
        "doc_contamination_safe_split",
        "doc_bm25_persisted_topk",
        "doc_hybrid_rrf_search_persisted",
        "doc_bm25_incremental_topk",
        "doc_bm25_prf_search",
        "doc_hybrid_rrf_search_federated",
    ]
    try:
        a = {n: sorted(map(tuple, qs[n](spark, SF).collect())) for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {n: sorted(map(tuple, qs[n](spark, SF).collect())) for n in names}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert a == b
