"""Gates for the rotation ledger's set-difference rule, the
O(batch) append-stats plan, PRF over the persisted index, the
index-refresh fingerprint cycle, and the index readers' guards
(n_buckets inference, prune_buckets coverage)."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_rotation_ledger_never_checked_all_in_window():
    """VERDICT r10 #1 (the r8-stray class of miss): the set of queries
    that have NEVER had a driver CORRECTNESS row must be computed by
    set-difference against ALL CORRECTNESS_r*.json files — and every
    such query must sit in the CURRENT driver window (awaiting its debut
    row), never parked in extras where the driver can't reach it."""
    import glob
    import json
    import os

    import __spark_entry__ as entrymod

    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    checked: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        with open(path) as fh:
            checked |= set(json.load(fh))
    assert checked, "no CORRECTNESS artifacts found — ledger rule can't run"
    reg, extra = entrymod.queries(), entrymod.extra_queries()
    never = (set(reg) | set(extra)) - checked
    stuck = never - set(reg)
    assert not stuck, (
        f"never-driver-checked queries parked in extras (rotate them into "
        f"the window): {sorted(stuck)}"
    )


def test_bm25_append_stats_plans_read_no_postings(spark, tmp_path):
    """VERDICT r10 #2: the append path's global-stats refresh is
    O(batch ∪ vocabulary), not O(index) — NONE of the three plans the
    append writes (batch postings, merged vocabulary, 1-row stats) may
    scan the stored postings/ directory. The batch postings plan reads
    only the new docs; the vocabulary merge reads the stored dfstats
    (vocabulary-sized, localCheckpointed); the stats row derives from
    the old stats (collected) + one batch aggregate."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        _bm25_append_plans,
        bm25_build_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 100)
    idx = str(tmp_path / "idx")
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), idx, n_buckets=8)
    plans = _bm25_append_plans(docs.filter(F.col("doc_id") % 2 == 1), idx)
    for name, df in zip(("batch_postings", "merged_df", "stats_df"), plans):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"{idx}/postings" not in plan and "idx/postings" not in plan, (
            f"append plan {name} scans the stored postings — the O(index) "
            f"re-aggregation the round-11 fix removed"
        )


def test_bm25_prf_persisted_equals_inquery_and_reads_no_corpus(spark):
    """VERDICT r10 #3: PRF composed onto the persisted index — the
    registry query doc_bm25_prf_search_persisted is bit-equal to the
    in-query twin (both passes + feedback mining over stored postings
    reconstruct the same scores), and its plan never scans
    documents.parquet (zero corpus tokenization at query time)."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    a = sorted(map(tuple, qs["doc_bm25_prf_search"](spark, SF).collect()))
    df_p = qs["doc_bm25_prf_search_persisted"](spark, SF)
    assert sorted(map(tuple, df_p.collect())) == a and len(a) > 0
    plan = df_p._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 0


def test_bm25_prune_buckets_miss_fails_loudly(spark, tmp_path):
    """ADVICE r10: a prune_buckets list that misses a query term's
    bucket must raise at runtime instead of silently deleting that
    term's contribution from every score."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_search_index,
    )

    docs = spark.createDataFrame(
        [(1, "spark sql engine"), (2, "duck db oracle"), (3, "spark shuffle")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    bm25_build_index(docs, idx, n_buckets=8)
    qt = spark.createDataFrame(
        [(9, "spark"), (9, "oracle")], "query_id int, term string"
    )
    buckets = [
        r["b"]
        for r in qt.select(
            F.pmod(F.xxhash64("term"), F.lit(8)).cast("int").alias("b")
        )
        .distinct()
        .collect()
    ]
    # full coverage → fine
    ok = bm25_search_index(qt, idx, k=3, prune_buckets=buckets).collect()
    assert len(ok) > 0
    # drop one required bucket → loud failure naming the gap
    with pytest.raises(Exception, match="prune_buckets misses bucket"):
        bm25_search_index(qt, idx, k=3, prune_buckets=buckets[:-1]).collect()


def test_index_refresh_fingerprint_cycle(spark, tmp_path):
    """VERDICT r10 #7: the staleness discipline end-to-end — a corpus
    mutation changes the data fingerprint, so the stale index's cache
    key no longer resolves (the reject), a rebuild under the new key
    runs, and search results change accordingly."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.registry import shared

    sfdir = str(tmp_path)
    corpus_v1 = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "ducks swim"), (3, "spark plans queries")],
        "doc_id long, text string",
    )
    corpus_v1.write.mode("overwrite").parquet(f"{sfdir}/documents.parquet")
    fp1 = shared._data_fingerprint(sfdir, "documents")
    idx1 = str(tmp_path / "idx" / fp1)
    bm25_build_index(spark.read.parquet(f"{sfdir}/documents.parquet"), idx1, n_buckets=4)
    qt = spark.createDataFrame([(9, "spark")], "query_id int, term string")
    r1 = {r["doc_id"] for r in bm25_search_index(qt, idx1, k=3).collect()}
    assert r1 == {1, 3}

    # corpus mutates in place: doc 3 no longer mentions spark, doc 4 does
    corpus_v2 = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "ducks swim"),
         (3, "flink streams events"), (4, "spark caches blocks")],
        "doc_id long, text string",
    )
    corpus_v2.write.mode("overwrite").parquet(f"{sfdir}/documents.parquet")
    fp2 = shared._data_fingerprint(sfdir, "documents")
    assert fp2 != fp1, "fingerprint must change when the corpus files change"
    # the stale index is keyed under fp1 → a lookup under fp2 is a cache
    # miss (the reject: the old artifacts are never consulted), forcing
    # the rebuild the discipline promises
    import os

    idx2 = str(tmp_path / "idx" / fp2)
    assert not os.path.isdir(idx2)
    bm25_build_index(spark.read.parquet(f"{sfdir}/documents.parquet"), idx2, n_buckets=4)
    r2 = {r["doc_id"] for r in bm25_search_index(qt, idx2, k=3).collect()}
    assert r2 == {1, 4}, "rebuilt index must reflect the mutated corpus"


def test_recall_panel_carries_federated_tier():
    """VERDICT r10 #4: RECALL.json must carry the federated tier in BOTH
    SF panels with calibrated floors and no breaches — the per-shard
    training-quality regression only a recall metric can see (the
    exact-merge pytest can't: it proves the merge, not the candidates)."""
    import json
    import os

    import __spark_entry__ as entrymod

    path = os.path.join(
        os.path.dirname(os.path.abspath(entrymod.__file__)), "RECALL.json"
    )
    with open(path) as fh:
        d = json.load(fh)
    assert d["floor_breaches"] == []
    for sf in ("sf0.01", "sf0.1"):
        tiers = d["panels"][sf]["tiers"]
        for t in (
            "ivfpq_federated2_c32_p4_m8k32_r100",
            "ivfpq_federated2_c32_p8_m8k32_r100",
        ):
            assert t in tiers, f"{sf} panel missing federated tier {t}"
            assert tiers[t]["floor"] is not None, f"{t} floor not calibrated"
            assert tiers[t]["recall_at_k"] >= tiers[t]["floor"]
        # the measured federation penalty: the naive row sits BELOW the
        # single-index row (half-corpus training quality) — if this ever
        # flips, the comment block in tools/ann_recall.py is stale
        assert (
            tiers["ivfpq_federated2_c32_p4_m8k32_r100"]["recall_at_k"]
            < tiers["ivfpq_c32_p4_m8k32_r100"]["recall_at_k"]
        )


def test_bm25_federated_equals_monolithic_and_validates(spark, tmp_path):
    """Federated BM25 (round-11): per-shard persisted indexes searched
    under the EXACT merged global stats must be bit-equal to one
    monolithic index over the union (df/N/total_dl sum losslessly over
    disjoint shards) — pruned and unpruned; shards disagreeing on the
    bucket modulus are rejected loudly (terms would hash to different
    buckets per shard)."""
    import pytest as _pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_federated_search,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents")
    mono = str(tmp_path / "mono")
    s0, s1 = str(tmp_path / "s0"), str(tmp_path / "s1")
    bm25_build_index(docs, mono, n_buckets=8)
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 0), s0, n_buckets=8)
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 1), s1, n_buckets=8)
    qdf = spark.createDataFrame(
        [(1, "spark"), (1, "data"), (2, "customer"), (2, "order")],
        "query_id int, term string",
    )
    single = sorted(map(tuple, bm25_search_index(qdf, mono, k=5).collect()))
    fed = sorted(map(tuple, bm25_federated_search(qdf, [s0, s1], k=5).collect()))
    assert fed == single and len(single) > 0
    buckets = sorted(
        r["b"]
        for r in qdf.select(
            F.pmod(F.xxhash64("term"), F.lit(8)).cast("int").alias("b")
        ).distinct().collect()
    )
    pruned = sorted(
        map(tuple, bm25_federated_search(qdf, [s0, s1], k=5, prune_buckets=buckets).collect())
    )
    assert pruned == single

    mismatched = str(tmp_path / "s_other_modulus")
    bm25_build_index(docs.filter(F.col("doc_id") % 2 == 1), mismatched, n_buckets=4)
    with _pytest.raises(ValueError, match="n_buckets"):
        bm25_federated_search(qdf, [s0, mismatched], k=5)
    with _pytest.raises(ValueError, match="at least one shard"):
        bm25_federated_search(qdf, [], k=5)


def test_retrieval_rank_metrics_known_values(spark):
    """nDCG@k + MRR against hand-computed values: query 1 has grades
    (3,0,1) at ranks (1,2,3) → DCG = 7 + 0 + 0.5 = 7.5 exactly (log2(2)
    and log2(4) are exact powers of two); ideal ordering (3,1) → IDCG =
    7 + 1/log2(3); MRR = 1. Query 2 has no relevant docs in (or out of)
    the top-k → both metrics 0."""
    import math

    from data_warehouse_punta_fina_spark.operators.evaluation import (
        retrieval_rank_metrics,
    )

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 10, 1), (2, 11, 2)],
        "query_id int, doc_id int, rank int",
    )
    qrels = spark.createDataFrame(
        [(1, 10, 3), (1, 12, 1), (1, 99, 2)],  # doc 99 relevant but unretrieved
        "query_id int, doc_id int, grade int",
    )
    rows = {r["query_id"]: r for r in retrieval_rank_metrics(ranked, qrels, k=3).collect()}
    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    dcg = r6(7.0) + r6(0.0) + r6(1.0 / 2.0)
    idcg = r6(7.0) + r6(3.0 / math.log2(3.0)) + r6(1.0 / 2.0)
    assert rows[1]["mrr"] == 1.0
    assert rows[1]["ndcg"] == r6(dcg / idcg)
    assert rows[2]["mrr"] == 0.0 and rows[2]["ndcg"] == 0.0


def test_proximity_search_semantics_and_guards(spark, tmp_path):
    """Proximity over the positional index: pair counts and min distance
    on a hand-built corpus; same-term / multi-token / tiny-window
    misuse rejected; plan touches no corpus table."""
    import pytest as _pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        positional_build_index,
        proximity_search_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),   # alpha@0,3 beta@1 -> dists 1,2
            (2, "beta x x x x x alpha"),     # dist 6 -> outside window 2
            (3, "gamma delta"),              # no pair
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "pos")
    positional_build_index(docs, idx, n_buckets=4)
    rows = {
        r["doc_id"]: (r["n_pairs"], r["min_dist"])
        for r in proximity_search_index(spark, idx, "alpha", "beta", window=2).collect()
    }
    assert rows == {1: (2, 1)}
    wide = {
        r["doc_id"]: (r["n_pairs"], r["min_dist"])
        for r in proximity_search_index(spark, idx, "alpha", "beta", window=6).collect()
    }
    assert wide == {1: (2, 1), 2: (1, 6)}

    with _pytest.raises(ValueError, match="same-term"):
        proximity_search_index(spark, idx, "alpha", "alpha")
    with _pytest.raises(ValueError, match="single corpus token"):
        proximity_search_index(spark, idx, "alpha beta", "gamma")
    with _pytest.raises(ValueError, match="window"):
        proximity_search_index(spark, idx, "alpha", "beta", window=0)
    plan = proximity_search_index(spark, idx, "alpha", "beta")._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan


def test_positional_append_equals_rebuild_and_keeps_fingerprint(spark, tmp_path):
    """Positional append is O(batch) AND exact: appended == full rebuild
    (same rows, same buckets — positions carry no global stats), the
    merged fingerprint keeps the index fresh for the union, and phrase
    search over the appended index equals in-query search over the
    union."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search,
        phrase_search_index,
        positional_append_index,
        positional_build_index,
        positional_index_is_fresh,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 200)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    inc = str(tmp_path / "inc")
    full = str(tmp_path / "full")
    positional_build_index(base, inc, n_buckets=4)
    positional_append_index(batch, inc)
    positional_build_index(docs, full, n_buckets=4)

    inc_rows = sorted(map(tuple, spark.read.parquet(f"{inc}/positions").collect()))
    full_rows = sorted(map(tuple, spark.read.parquet(f"{full}/positions").collect()))
    assert inc_rows == full_rows and len(inc_rows) > 0

    assert positional_index_is_fresh(docs, inc) is True
    assert positional_index_is_fresh(base, inc) is False
    a = sorted(map(tuple, phrase_search(docs, "order fast").collect()))
    b = sorted(map(tuple, phrase_search_index(spark, inc, "order fast").collect()))
    assert a == b


def test_positional_ingest_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """The streaming positional-index MAINTENANCE twin: documents drained
    through the availableNow ingest loop produce an index whose phrase
    and proximity searches equal the batch-built one; a replayed batch
    (failure between write and checkpoint commit) overwrites its own
    partition, leaving the index unchanged."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search,
        phrase_search_index,
        proximity_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 120)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    idx = str(tmp_path / "stream_idx")
    q = drain(
        read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        partial(positional_ingest_batch, index_path=idx, n_buckets=4),
    )
    q.awaitTermination(120)

    a = sorted(map(tuple, phrase_search(docs, "order fast").collect()))
    b = sorted(map(tuple, phrase_search_index(spark, idx, "order fast").collect()))
    assert a == b and len(a) > 0
    prox = proximity_search_index(spark, idx, "customer", "order", window=6).collect()
    assert len(prox) > 0

    # replay: re-run the CURRENT batch through the same foreachBatch
    # body — the dynamic partition overwrite must leave the stored rows
    # unchanged. (Round-13: only the newest batch can legitimately
    # replay — its checkpoint is the one that may not have committed;
    # an OLDER id is the reset-checkpoint regression the guard refuses.)
    import pytest

    from data_warehouse_punta_fina_spark.streaming.epochs import (
        BatchRegressionError,
    )

    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/positions").drop("ingest_batch").collect())
    )
    positional_ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, idx, n_buckets=4)
    after = sorted(
        map(tuple, spark.read.parquet(f"{idx}/positions").drop("ingest_batch").collect())
    )
    assert before == after
    with pytest.raises(BatchRegressionError, match="checkpoint"):
        positional_ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, idx, n_buckets=4)


def test_bm25_federated_exactness_random_splits(spark, tmp_path):
    """The federation-exactness claim quantified over arbitrary shardings:
    for seeded random 2- and 3-way corpus partitions, the federated
    search is bit-equal to the monolithic index — df/N/total_dl merge
    losslessly regardless of HOW the corpus is split."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_federated_search,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 150)
    mono = str(tmp_path / "mono")
    bm25_build_index(docs, mono, n_buckets=8)
    qdf = spark.createDataFrame(
        [(1, "spark"), (1, "data"), (2, "customer"), (2, "order"), (3, "fast")],
        "query_id int, term string",
    )
    single = sorted(map(tuple, bm25_search_index(qdf, mono, k=5).collect()))
    assert len(single) > 0
    for trial, n_shards in ((0, 2), (1, 3), (2, 3)):
        # deterministic pseudo-random assignment: md5 of (trial, doc_id)
        assign = F.pmod(
            F.xxhash64(F.lit(trial), F.col("doc_id")), F.lit(n_shards)
        )
        dirs = []
        for i in range(n_shards):
            d = str(tmp_path / f"t{trial}_s{i}")
            bm25_build_index(docs.filter(assign == i), d, n_buckets=8)
            dirs.append(d)
        fed = sorted(map(tuple, bm25_federated_search(qdf, dirs, k=5).collect()))
        assert fed == single, f"trial {trial} ({n_shards} shards) diverged"
