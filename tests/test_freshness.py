"""Content freshness of the persisted BM25, positional and IVF-PQ indexes.

``operators/freshness.py`` stores, merges and compares every corpus
fingerprint; each family's ``*_index_is_fresh`` only names the table that
holds it. There is no refresh function: a caller that finds an index
stale rebuilds it, ``if not *_index_is_fresh(...): *_build_index(...)``,
which is how the cycle tests below drive it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.freshness import (
    StaleIndexError,
    stored_fingerprint,
)
from data_warehouse_punta_fina_spark.operators.retrieval import (
    bm25_append_index,
    bm25_build_index,
    bm25_index_is_fresh,
    bm25_search_index,
    phrase_search_index,
    positional_append_index,
    positional_build_index,
    positional_index_is_fresh,
)
from data_warehouse_punta_fina_spark.operators.similarity import (
    ivfpq_append_index,
    ivfpq_build_index,
    ivfpq_index_is_fresh,
    ivfpq_search_index,
)
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"
IVFPQ = dict(n_cells=2, m=2, n_centroids=2, iters=1)


def _docs(spark, rows):
    return literal_table(spark, rows, "doc_id long, text string")


def _family(spark, name):
    """(build, append, is_fresh, verified search, fingerprint table,
    base corpus, mutated corpus, disjoint batch) for one index family."""
    if name == "ivfpq":
        emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
        base = emb.filter(F.col("vec_id") < 8)
        queries = emb.filter(F.col("vec_id") == 0)
        return (
            lambda c, d: ivfpq_build_index(c, d, **IVFPQ),
            ivfpq_append_index,
            ivfpq_index_is_fresh,
            lambda c, d: ivfpq_search_index(
                queries, c, d, k=2, probes=1, rerank=4, verify_corpus=c, **IVFPQ
            ),
            "fingerprint",
            base,
            emb.filter((F.col("vec_id") < 7) | (F.col("vec_id") == 9)),
            emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 13)),
        )
    base = _docs(spark, [(1, "spark shuffles data"), (2, "ducks swim"), (3, "spark plans")])
    mutated = _docs(spark, [(1, "spark shuffles data"), (2, "ducks swim"), (3, "flink plans")])
    batch = _docs(spark, [(4, "spark caches blocks"), (5, "herons wade")])
    if name == "bm25":
        qt = literal_table(spark, [(9, "spark")], "query_id int, term string")
        return (
            lambda c, d: bm25_build_index(c, d, n_buckets=4),
            bm25_append_index,
            bm25_index_is_fresh,
            lambda c, d: bm25_search_index(qt, d, k=3, verify_corpus=c),
            "stats",
            base,
            mutated,
            batch,
        )
    return (
        lambda c, d: positional_build_index(c, d, n_buckets=4),
        positional_append_index,
        positional_index_is_fresh,
        lambda c, d: phrase_search_index(spark, d, "spark plans", verify_corpus=c),
        "stats",
        base,
        mutated,
        batch,
    )


@pytest.mark.parametrize("family", ["bm25", "positional", "ivfpq"])
def test_freshness_cycle(spark, tmp_path, family):
    """Build → fresh; append a disjoint batch → the merged fingerprint
    equals a full rebuild's over the union, and a repartitioned copy of
    the union is still fresh; mutate the corpus → ``verify_corpus=``
    raises StaleIndexError naming the directory."""
    build, append, is_fresh, search, table, base, mutated, batch = _family(spark, family)
    union = base.unionByName(batch)
    full = str(tmp_path / f"{family}_full")
    build(union, full)
    assert is_fresh(union, full) is True

    idx = str(tmp_path / f"{family}_idx")
    build(base, idx)
    append(batch, idx)
    appended = stored_fingerprint(spark, f"{idx}/{table}")
    assert appended is not None
    assert appended == stored_fingerprint(spark, f"{full}/{table}")
    assert is_fresh(union.repartition(3), idx) is True

    with pytest.raises(StaleIndexError, match=f"{family}_idx"):
        search(mutated.unionByName(batch), idx)


def test_missing_index_is_stale_in_every_family(spark, tmp_path):
    """No index at the directory reads False for all three families,
    rather than raising."""
    docs = _docs(spark, [(1, "spark shuffles data")])
    vecs = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 2)
    nowhere = str(tmp_path / "nowhere")
    assert bm25_index_is_fresh(docs, nowhere) is False
    assert positional_index_is_fresh(docs, nowhere) is False
    assert ivfpq_index_is_fresh(vecs, nowhere) is False


def test_bm25_content_fingerprint_refresh_cycle(spark, tmp_path):
    """VERDICT r10 #7, content-level: beyond the file-fingerprint cache
    key, the index itself stores a corpus CONTENT fingerprint — a
    mutated-in-place corpus (same paths, different rows) is detected
    (is_fresh False), rejected at search time (StaleIndexError), rebuilt,
    and the new results reflect the mutation; once rebuilt the index is
    fresh, so a second pass rebuilds nothing."""
    idx = str(tmp_path / "bm25_idx")
    v1 = _docs(spark, [(1, "spark shuffles data"), (2, "ducks swim"), (3, "spark plans queries")])
    # a MISSING index is stale, so the caller builds it
    assert bm25_index_is_fresh(v1, idx) is False
    bm25_build_index(v1, idx, n_buckets=4)
    assert bm25_index_is_fresh(v1, idx) is True
    qt = spark.createDataFrame([(9, "spark")], "query_id int, term string")
    r1 = {r["doc_id"] for r in bm25_search_index(qt, idx, k=3, verify_corpus=v1).collect()}
    assert r1 == {1, 3}

    # in-place mutation: doc 3 stops mentioning spark, doc 4 starts
    v2 = _docs(
        spark,
        [(1, "spark shuffles data"), (2, "ducks swim"),
         (3, "flink streams events"), (4, "spark caches blocks")],
    )
    assert bm25_index_is_fresh(v2, idx) is False
    with pytest.raises(StaleIndexError):
        bm25_search_index(qt, idx, k=3, verify_corpus=v2)
    if not bm25_index_is_fresh(v2, idx):
        bm25_build_index(v2, idx, n_buckets=4)  # rebuilt
    r2 = {r["doc_id"] for r in bm25_search_index(qt, idx, k=3, verify_corpus=v2).collect()}
    assert r2 == {1, 4}, "rebuilt index must reflect the mutated corpus"
    assert bm25_index_is_fresh(v2, idx) is True  # fresh → no rebuild


def test_bm25_append_preserves_content_fingerprint(spark, tmp_path):
    """The O(batch) append keeps the stored fingerprint EXACT: after
    appending a disjoint batch, the index is fresh for the union (and
    stale for the pre-append corpus) — XOR/sum merge equals a
    from-scratch fingerprint, independent of partitioning/order."""
    idx = str(tmp_path / "bm25_idx")
    base = _docs(spark, [(1, "spark shuffles data"), (2, "ducks swim")])
    batch = _docs(spark, [(3, "spark caches blocks"), (4, "herons wade")])
    bm25_build_index(base, idx, n_buckets=4)
    bm25_append_index(batch, idx)
    union = base.unionByName(batch)
    assert bm25_index_is_fresh(union, idx) is True
    # order/partitioning independence of the fingerprint comparison
    assert bm25_index_is_fresh(union.repartition(7).sortWithinPartitions("text"), idx) is True
    assert bm25_index_is_fresh(base, idx) is False


def test_ivfpq_content_fingerprint_refresh_cycle(spark, tmp_path):
    """The vector twin of the BM25 cycle: build stores the corpus
    fingerprint, an in-place mutation is detected and rejected
    (StaleIndexError on verify_corpus), the caller retrains, appends
    merge the fingerprint in O(batch) so the appended index stays fresh
    for the union."""
    emb = load_table(spark, SF, "embeddings")
    v1 = emb.filter(F.col("vec_id") < 60)
    idx = str(tmp_path / "ivfpq_idx")
    params = dict(n_cells=4, m=4, n_centroids=4, iters=1)
    assert ivfpq_index_is_fresh(v1, idx) is False  # missing → build
    ivfpq_build_index(v1, idx, **params)
    assert ivfpq_index_is_fresh(v1, idx) is True
    queries = emb.filter(F.col("vec_id") < 2)
    ivfpq_search_index(
        queries, v1, idx, k=3, probes=2, rerank=10, dims=64,
        verify_corpus=v1, **params,
    ).collect()  # fresh → no raise

    # in-place mutation: one vector replaced by a different one
    v2 = emb.filter((F.col("vec_id") < 59) | (F.col("vec_id") == 61))
    assert ivfpq_index_is_fresh(v2, idx) is False
    with pytest.raises(StaleIndexError):
        ivfpq_search_index(
            queries, v2, idx, k=3, probes=2, rerank=10, dims=64,
            verify_corpus=v2, **params,
        )
    if not ivfpq_index_is_fresh(v2, idx):
        ivfpq_build_index(v2, idx, **params)  # rebuilt
    assert ivfpq_index_is_fresh(v2, idx) is True  # fresh → no rebuild

    # O(batch) fingerprint maintenance through the append path
    batch = emb.filter((F.col("vec_id") >= 62) & (F.col("vec_id") < 66))
    ivfpq_append_index(batch, idx)
    assert ivfpq_index_is_fresh(v2.unionByName(batch), idx) is True
    assert ivfpq_index_is_fresh(v2, idx) is False


def test_federated_refresh_rebuilds_only_stale_shards(spark, tmp_path):
    """The operational composition of freshness × federation: when one
    shard's corpus mutates, only that shard is rebuilt (the other
    shard's stored codes are untouched on disk), and the federated
    search over the rebuilt shards reflects the mutation."""
    import os

    from data_warehouse_punta_fina_spark.operators.similarity import ivfpq_federated_search

    emb = load_table(spark, SF, "embeddings")
    params = dict(n_cells=4, m=4, n_centroids=4, iters=1)
    dirs = [str(tmp_path / f"s{i}") for i in range(2)]
    shards_v1 = [
        emb.filter((F.col("vec_id") < 80) & (F.pmod(F.col("vec_id"), F.lit(2)) == i))
        for i in range(2)
    ]
    for s, d in zip(shards_v1, dirs):
        assert ivfpq_index_is_fresh(s, d) is False  # initial build
        ivfpq_build_index(s, d, **params)

    def _mtimes(d):
        codes = os.path.join(d, "codes")
        return {
            f: os.path.getmtime(os.path.join(root, f))
            for root, _, fs in os.walk(codes)
            for f in fs
            if f.endswith(".parquet")
        }

    before = _mtimes(dirs[0])
    # shard 1's corpus mutates (one extra vector); shard 0 unchanged
    shard1_v2 = emb.filter(
        ((F.col("vec_id") < 80) | (F.col("vec_id") == 81))
        & (F.pmod(F.col("vec_id"), F.lit(2)) == 1)
    )
    rebuilt = []
    for s, d in ((shards_v1[0], dirs[0]), (shard1_v2, dirs[1])):
        stale = not ivfpq_index_is_fresh(s, d)
        if stale:
            ivfpq_build_index(s, d, **params)
        rebuilt.append(stale)
    assert rebuilt == [False, True]
    assert _mtimes(dirs[0]) == before, "fresh shard's codes must be untouched"
    assert ivfpq_index_is_fresh(shard1_v2, dirs[1]) is True

    # the rebuild incorporated the mutation: the rebuilt shard's codes
    # now carry the new vector (self-matches are excluded at search
    # time, so assert on the index contents + an end-to-end search)
    codes1 = spark.read.parquet(f"{dirs[1]}/codes")
    assert codes1.filter(F.col("vec_id") == 81).count() > 0
    corpus_v2 = shards_v1[0].unionByName(shard1_v2)
    queries = emb.filter(F.col("vec_id") == 0)
    hits = ivfpq_federated_search(
        queries, corpus_v2, dirs, k=3, probes=4, rerank=10, dims=64, **params
    ).collect()
    assert len(hits) == 3


def test_positional_index_phrase_search_and_refresh(spark, tmp_path):
    """Persisted positional index (round-11): phrase search over stored
    positions is bit-equal to the in-query token-slice scan (incl. the
    repeated-term phrase), reads NO corpus table and only the phrase
    terms' buckets (static filter), and the freshness cycle applies
    (mutate → stale → StaleIndexError → rebuild)."""
    from data_warehouse_punta_fina_spark.operators.retrieval import phrase_search

    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "pos_idx")
    positional_build_index(docs, idx, n_buckets=8)
    for phrase in ("order fast", "the the"):
        a = sorted(map(tuple, phrase_search(docs, phrase).collect()))
        b = sorted(map(tuple, phrase_search_index(spark, idx, phrase).collect()))
        assert a == b and len(a) > 0, phrase

    plan = phrase_search_index(spark, idx, "order fast")._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "persisted search must not touch the corpus"
    assert "bucket" in plan, "phrase-term bucket pruning missing from the scan"

    v2 = docs.limit(50)
    assert positional_index_is_fresh(v2, idx) is False
    with pytest.raises(StaleIndexError):
        phrase_search_index(spark, idx, "order fast", verify_corpus=v2)
    if not positional_index_is_fresh(v2, idx):
        positional_build_index(v2, idx, n_buckets=8)  # rebuilt
    assert positional_index_is_fresh(v2, idx) is True  # fresh → no rebuild
    a2 = sorted(map(tuple, phrase_search(v2, "order fast").collect()))
    b2 = sorted(map(tuple, phrase_search_index(spark, idx, "order fast").collect()))
    assert a2 == b2

    with pytest.raises(ValueError, match="no tokens"):
        phrase_search_index(spark, idx, "!!!")
