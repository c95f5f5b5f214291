"""Round-12 gates: the array-postings positional layout (VERDICT r11
#1 — delta-encoded position arrays per (term, doc), v1 row-per-token
rejected), sloppy phrase search (#6) and its unordered n-term
co-occurrence complement, the BM25 maintenance stream's idempotent
global-stats replay + epoch pruning (#4), federated probe compensation
(#2), federated freshness threading (#7), and the ADVICE r11
hardenings (missing-stats behavior of the positional freshness/append
paths)."""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_positional_array_layout_row_count_and_delta_encoding(spark, tmp_path):
    """The v2 layout stores ONE ROW PER (term, doc) POSTING — ~avgdl×
    fewer rows than v1's row-per-token (the family's steepest 100×
    build) — with positions as ascending delta-encoded arrays whose
    prefix sums reproduce the exact token offsets."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        positional_build_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 100)
    idx = str(tmp_path / "arr")
    positional_build_index(docs, idx, n_buckets=4)
    positions = spark.read.parquet(f"{idx}/positions")

    n_postings = positions.count()
    n_tokens = positions.agg(F.sum(F.size("positions"))).collect()[0][0]
    # the row compression is avg-tf per (term, doc): ~2.3x at sf0.001's
    # short docs / 30-word vocabulary, and grows with document length —
    # assert it is real, not marginal (the 100x sweep measures the
    # large-corpus effect; tools/retrieval_scale.py)
    assert n_tokens > 1.5 * n_postings, (n_postings, n_tokens)
    # tf column == array size (the read-side fan-out bound)
    assert positions.filter(F.col("tf") != F.size("positions")).count() == 0
    # deltas: first element >= 0, every subsequent gap >= 1 (strictly
    # ascending absolute positions — a 0 gap would mean a duplicated
    # token offset, which posexplode cannot produce)
    bad = positions.filter(
        (F.element_at("positions", 1) < 0)
        | (F.exists(F.slice("positions", 2, 1_000_000), lambda d: d < 1))
    )
    assert bad.count() == 0
    # decoded positions reproduce the raw posexplode offsets exactly
    from data_warehouse_punta_fina_spark.functions.text import tokens as tok_fn
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        _decode_positions,
    )

    decoded = positions.select(
        "doc_id", "term", F.explode(_decode_positions(F.col("positions"))).alias("pos")
    )
    raw = docs.select(
        "doc_id", F.posexplode(tok_fn(F.col("text"))).alias("pos", "term")
    )
    assert sorted(map(tuple, decoded.collect())) == sorted(
        map(tuple, raw.select("doc_id", "term", "pos").collect())
    )


def test_positional_v1_layout_rejected(spark, tmp_path):
    """A v1 row-per-token index (or any foreign layout) is rejected at
    search time — a layout mismatch would silently break adjacency. So
    is a v2 index whose ``tf`` lost its metadata or carries another
    scheme."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_build_index,
        proximity_search_index,
    )

    # hand-write a v1-shaped positions table (pos rows, old scheme)
    v1 = spark.createDataFrame(
        [("alpha", 1, 0, 2), ("beta", 1, 1, 3)],
        "term string, doc_id long, pos int, bucket int",
    )
    idx = str(tmp_path / "v1")
    v1.write.partitionBy("bucket").parquet(f"{idx}/positions")
    with pytest.raises(ValueError, match="no parameter metadata"):
        phrase_search_index(spark, idx, "alpha beta")
    with pytest.raises(ValueError, match="no parameter metadata"):
        proximity_search_index(spark, idx, "alpha", "beta")

    v2 = str(tmp_path / "v2")
    positional_build_index(
        spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string"),
        v2,
        n_buckets=4,
    )
    for name, md in (("stripped", {}), ("foreign", {"scheme": "pos-tokenv1", "n_buckets": 4})):
        spark.read.parquet(f"{v2}/positions").select(
            "term", "doc_id", F.col("tf").alias("tf", metadata=md), "positions", "bucket"
        ).write.partitionBy("bucket").parquet(f"{tmp_path}/{name}/positions")
    with pytest.raises(ValueError, match="no parameter metadata"):
        phrase_search_index(spark, f"{tmp_path}/stripped", "alpha beta")
    with pytest.raises(
        ValueError, match="different parameters.*scheme: stored 'pos-tokenv1'"
    ):
        phrase_search_index(spark, f"{tmp_path}/foreign", "alpha beta")


def test_phrase_slop_search_semantics_and_slop0_identity(spark, tmp_path):
    """Sloppy phrase (VERDICT r11 #6): terms in order with at most
    ``slop`` intervening tokens between consecutive terms; slop=0 is
    bit-equal to the exact phrase search; n_matches counts distinct
    position tuples; misuse rejected."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        phrase_slop_search_index,
        positional_build_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = spark.createDataFrame(
        [
            (1, "order it fast now order fast"),  # slop1: (0,2),(4,5); slop0: (4,5)
            (2, "order slow fast"),               # gap 2 -> slop>=1
            (3, "fast order"),                    # wrong order: never
            (4, "order x y z fast"),              # gap 4 -> slop>=3
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "slop")
    positional_build_index(docs, idx, n_buckets=4)
    got = lambda s: sorted(
        map(tuple, phrase_slop_search_index(spark, idx, "order fast", slop=s).collect())
    )
    assert got(0) == [(1, 1, 4)]
    assert got(1) == [(1, 2, 0), (2, 1, 0)]
    assert got(3) == [(1, 2, 0), (2, 1, 0), (4, 1, 0)]

    # 3-term chain: every consecutive gap must satisfy the rule
    docs3 = spark.createDataFrame(
        [(1, "a x b y c"), (2, "a b x x c"), (3, "c b a")],
        "doc_id long, text string",
    )
    idx3 = str(tmp_path / "slop3")
    positional_build_index(docs3, idx3, n_buckets=4)
    assert sorted(
        map(tuple, phrase_slop_search_index(spark, idx3, "a b c", slop=1).collect())
    ) == [(1, 1, 0)]

    # slop=0 identity on real data (the bit-equality the oracle leans on)
    corpus = load_table(spark, SF, "documents").filter(F.col("doc_id") < 150)
    idxr = str(tmp_path / "real")
    positional_build_index(corpus, idxr, n_buckets=8)
    exact = sorted(map(tuple, phrase_search_index(spark, idxr, "order fast").collect()))
    slop0 = sorted(
        map(tuple, phrase_slop_search_index(spark, idxr, "order fast", slop=0).collect())
    )
    assert exact == slop0 and len(exact) > 0

    with pytest.raises(ValueError, match="slop"):
        phrase_slop_search_index(spark, idxr, "order fast", slop=-1)
    with pytest.raises(ValueError, match="no tokens"):
        phrase_slop_search_index(spark, idxr, "!!!")

    # plan posture: no corpus table, bucket pruning present
    plan = (
        phrase_slop_search_index(spark, idxr, "order fast", slop=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in plan
    assert "bucket" in plan


def test_positional_missing_stats_fresh_false_append_loud(spark, tmp_path):
    """ADVICE r11: a stream-built index (no stats/) reports is_fresh ==
    False instead of raising a raw AnalysisException, and a batch append
    onto it fails with a descriptive error naming the remedy."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_append_index,
        positional_index_is_fresh,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta alpha beta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "streamish")
    positional_ingest_batch(docs, 0, idx, n_buckets=4)
    # stream layout is searchable...
    hits = sorted(map(tuple, phrase_search_index(spark, idx, "alpha beta").collect()))
    assert hits == [(1, 1, 0), (2, 1, 1)]
    # ...but has no stats/: freshness is unknowable -> False, not a raise
    assert positional_index_is_fresh(docs, idx) is False
    # and batch appends are refused with the remedy spelled out
    more = spark.createDataFrame([(3, "alpha beta")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stream-built"):
        positional_append_index(more, idx)
    # a wholly missing index is also False, not a raise
    assert positional_index_is_fresh(docs, str(tmp_path / "nowhere")) is False


def test_bm25_maintenance_stream_matches_monolithic_and_replay_safe(spark, tmp_path):
    """VERDICT r11 #4: the BM25 index-MAINTENANCE stream. (a) stream ==
    batch: after draining the corpus, searching the maintained index is
    bit-equal to a monolithic bm25_build_index over the same docs (df/N/
    total_dl merge exactly); (b) the maintained fingerprint holds —
    is_fresh == True against the streamed corpus; (c) a REPLAYED batch
    (failure between write and checkpoint commit) leaves dfstats, stats,
    and the fingerprint bit-identical — the epoch discipline re-derives,
    never double-merges, the global state BM25 has and positions don't."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_index_is_fresh,
        bm25_search_index,
        bm25_build_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 120)
    src = str(tmp_path / "src")
    # three files -> three micro-batches: epochs 0,1,2 with pruning live
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode("append").parquet(src)
    idx = str(tmp_path / "maintained")
    q = drain(
        read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        partial(bm25_maintenance_batch, index_dir=idx, n_buckets=8),
    )
    assert q.awaitTermination(180)

    qdf = spark.createDataFrame(
        [(1, "spark"), (1, "data"), (2, "customer"), (2, "order")],
        "query_id int, term string",
    )
    mono = str(tmp_path / "mono")
    bm25_build_index(docs, mono, n_buckets=8)
    a = sorted(map(tuple, bm25_search_index(qdf, mono, k=5).collect()))
    b = sorted(map(tuple, bm25_search_index(qdf, idx, k=5).collect()))
    assert a == b and len(a) > 0

    # the stream-maintained fingerprint describes the streamed corpus
    assert bm25_index_is_fresh(docs, idx) is True
    assert bm25_index_is_fresh(docs.limit(10), idx) is False

    # replay batch 1 (the last batch): every artifact must be unchanged
    def _state():
        dfstats = sorted(
            map(tuple, spark.read.parquet(f"{idx}/dfstats").collect())
        )
        stats = sorted(map(tuple, spark.read.parquet(f"{idx}/stats").collect()))
        postings = sorted(
            map(
                tuple,
                spark.read.parquet(f"{idx}/postings").collect(),
            )
        )
        return dfstats, stats, postings

    # epoch hygiene: only the 2 newest epochs survive (2 = the current
    # batch + its merge source — the replay invariant's minimum)
    import os

    for sub in ("dfstats_epochs", "stats_epochs"):
        epochs = sorted(
            e for e in os.listdir(os.path.join(idx, sub)) if e.startswith("epoch=")
        )
        assert epochs == ["epoch=1", "epoch=2"], (sub, epochs)

    before = _state()
    bm25_maintenance_batch(
        docs.filter(F.col("doc_id") % 3 == 2), 2, idx, n_buckets=8
    )
    assert _state() == before
    assert bm25_index_is_fresh(docs, idx) is True


def test_ivfpq_federated_compensate_scales_probes(spark, monkeypatch):
    """VERDICT r11 #2: the probes-scale-with-shards recovery law is now
    an encoded knob — compensate=True multiplies the caller's per-shard
    probes by the shard count before fanning out (each shard's quantizer
    trained on 1/shards of the corpus, so the probe budget must scale to
    hold recall; measured 0.544 -> 0.919 at 4 shards in RECALL.json)."""
    from data_warehouse_punta_fina_spark.operators import similarity as sim

    seen: list[int] = []

    def _spy(queries, corpus, d, **kw):
        seen.append(int(kw.get("probes")))
        # candidate-shaped empty frame — the merge window tolerates it
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )

    monkeypatch.setattr(sim, "ivfpq_search_index", _spy)
    dirs = ["/tmp/sA", "/tmp/sB", "/tmp/sC", "/tmp/sD"]
    emb = spark.createDataFrame([(0, [0.0])], "vec_id long, embedding array<double>")
    sim.ivfpq_federated_search(emb, emb, dirs, k=3, probes=4).count()
    assert seen == [4, 4, 4, 4]
    seen.clear()
    sim.ivfpq_federated_search(emb, emb, dirs, k=3, probes=4, compensate=True).count()
    assert seen == [16, 16, 16, 16]


def test_federated_freshness_raises_naming_stale_shard(spark, tmp_path):
    """VERDICT r11 #7: a stale shard inside a federated search is
    refusable in ONE call — verify_corpora checks every shard's stored
    fingerprint and the error names the stale shard's directory (so the
    refresh touches only that shard). Both the lexical and vector
    federations."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.freshness import StaleIndexError
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_federated_search,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
        ivfpq_federated_search,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 100)
    s0 = docs.filter(F.col("doc_id") % 2 == 0)
    s1 = docs.filter(F.col("doc_id") % 2 == 1)
    d0, d1 = str(tmp_path / "lex0"), str(tmp_path / "lex1")
    bm25_build_index(s0, d0, n_buckets=8)
    bm25_build_index(s1, d1, n_buckets=8)
    qdf = spark.createDataFrame([(1, "spark"), (1, "data")], "query_id int, term string")

    # fresh corpora: the verified federated search returns results
    assert (
        bm25_federated_search(qdf, [d0, d1], k=3, verify_corpora=[s0, s1]).count() > 0
    )
    # mutate shard 1's corpus -> ONE call refuses, naming shard 1
    s1_mut = s1.limit(10)
    with pytest.raises(StaleIndexError, match="lex1"):
        bm25_federated_search(qdf, [d0, d1], k=3, verify_corpora=[s0, s1_mut])
    with pytest.raises(ValueError, match="parallel"):
        bm25_federated_search(qdf, [d0, d1], k=3, verify_corpora=[s0])

    # vector twin
    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 80)
    e0 = emb.filter(F.col("vec_id") % 2 == 0)
    e1 = emb.filter(F.col("vec_id") % 2 == 1)
    v0, v1 = str(tmp_path / "vec0"), str(tmp_path / "vec1")
    params = dict(n_cells=8, m=8, n_centroids=8, iters=1)
    ivfpq_build_index(e0, v0, **params)
    ivfpq_build_index(e1, v1, **params)
    queries = emb.filter(F.col("vec_id") < 2)
    ok = ivfpq_federated_search(
        queries, emb, [v0, v1], k=3, probes=2, rerank=10, dims=64,
        verify_corpora=[e0, e1], **params,
    )
    assert ok.count() > 0
    with pytest.raises(StaleIndexError, match="vec0"):
        ivfpq_federated_search(
            queries, emb, [v0, v1], k=3, probes=2, rerank=10, dims=64,
            verify_corpora=[e0.limit(5), e1], **params,
        )


def test_bm25_prf_search_index_threads_verify_corpus(spark, tmp_path):
    """VERDICT r11 #7 (composition case): the PRF composition exposes
    the freshness check end-to-end — one verify_corpus= on the call
    covers both passes and the mining (they read the same artifacts)."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.freshness import StaleIndexError
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        bm25_prf_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 100)
    idx = str(tmp_path / "prf")
    bm25_build_index(docs, idx, n_buckets=8)
    qdf = spark.createDataFrame([(1, "spark"), (1, "data")], "query_id int, term string")
    assert bm25_prf_search_index(qdf, idx, k=3, verify_corpus=docs).count() > 0
    with pytest.raises(StaleIndexError):
        bm25_prf_search_index(qdf, idx, k=3, verify_corpus=docs.limit(10))


def test_cooccurrence_search_semantics_and_guards(spark, tmp_path):
    """Unordered n-term within-window co-occurrence: distinct tuple
    counts and tightest span on a hand corpus; symmetric in term order;
    duplicate/multi-token/short inputs rejected; no corpus scan."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        cooccurrence_search_index,
        positional_build_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "a x b y c"),        # tuple (0,2,4) span 4
            (2, "c a b"),            # (1,2,0) span 2 — order-free
            (3, "a b"),              # missing c: never
            (4, "a x x x x b x c"),  # (0,5,7) span 7
            (5, "a b c a"),          # (0,1,2) span 2 and (3,1,2) span 2
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "cooc")
    positional_build_index(docs, idx, n_buckets=4)
    got = lambda w: sorted(
        map(
            tuple,
            cooccurrence_search_index(spark, idx, ["a", "b", "c"], window=w).collect(),
        )
    )
    assert got(4) == [(1, 1, 4), (2, 1, 2), (5, 2, 2)]
    assert got(7) == [(1, 1, 4), (2, 1, 2), (4, 1, 7), (5, 2, 2)]
    # term order in the CALL must not matter (unordered semantics)
    alt = sorted(
        map(
            tuple,
            cooccurrence_search_index(spark, idx, ["c", "a", "b"], window=4).collect(),
        )
    )
    assert alt == got(4)

    with pytest.raises(ValueError, match="duplicate"):
        cooccurrence_search_index(spark, idx, ["a", "a", "b"])
    with pytest.raises(ValueError, match="single corpus token"):
        cooccurrence_search_index(spark, idx, ["a b", "c"])
    with pytest.raises(ValueError, match="at least two"):
        cooccurrence_search_index(spark, idx, ["a"])
    with pytest.raises(ValueError, match="window"):
        cooccurrence_search_index(spark, idx, ["a", "b"], window=0)
    plan = (
        cooccurrence_search_index(spark, idx, ["a", "b"], window=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in plan


def test_nb_maintenance_stream_equals_monolithic_and_replay_safe(spark, tmp_path):
    """The NB-model maintenance stream (the classifier twin of the BM25
    maintenance stream — the model is ENTIRELY mergeable global state):
    after draining labeled batches, nb_score_model over the maintained
    model is bit-equal to scoring a monolithic nb_save_model; a replayed
    batch leaves cond/classes/consts byte-identical; epoch history is
    pruned to 2."""
    import os

    from data_warehouse_punta_fina_spark.operators.classify import (
        nb_save_model,
        nb_score_model,
    )
    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        nb_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    rows = [
        (1, "gato perro gato casa", "es"),
        (2, "perro casa gato", "es"),
        (3, "cat dog cat house", "en"),
        (4, "dog house cat the", "en"),
        (5, "the cat sat", "en"),
        (6, "la casa del gato", "es"),
        (7, "a dog in the house", "en"),
        (8, "el perro y el gato", "es"),
        (9, "the house cat dog mat", "en"),
    ]
    train = spark.createDataFrame(rows, "doc_id bigint, text string, label string")
    src = str(tmp_path / "src")
    # three files -> three micro-batches (epochs 0,1,2 — pruning live)
    for i in range(3):
        train.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    mdl = str(tmp_path / "maintained_model")
    q = drain(
        read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        partial(nb_maintenance_batch, model_dir=mdl),
    )
    assert q.awaitTermination(180)

    mono = str(tmp_path / "mono_model")
    nb_save_model(train, mono)
    test = spark.createDataFrame(
        [(10, "gato casa perro", "es"), (11, "the cat dog", "en"), (12, "zzz", "en")],
        "doc_id bigint, text string, label string",
    )
    a = sorted(map(tuple, nb_score_model(test, mono).collect()))
    b = sorted(map(tuple, nb_score_model(test, mdl).collect()))
    assert a == b and len(a) == 3

    # model tables bit-identical to the monolithic train
    for sub in ("cond", "classes", "consts"):
        m = sorted(map(tuple, spark.read.parquet(f"{mono}/{sub}").collect()))
        s = sorted(map(tuple, spark.read.parquet(f"{mdl}/{sub}").collect()))
        assert m == s, sub

    # epoch hygiene
    for sub in ("cond_epochs", "classdocs_epochs"):
        epochs = sorted(
            e for e in os.listdir(os.path.join(mdl, sub)) if e.startswith("epoch=")
        )
        assert epochs == ["epoch=1", "epoch=2"], (sub, epochs)

    # replayed last batch: every published table unchanged
    def _state():
        return [
            sorted(map(tuple, spark.read.parquet(f"{mdl}/{sub}").collect()))
            for sub in ("cond", "classes", "consts")
        ]

    before = _state()
    nb_maintenance_batch(train.filter(F.col("doc_id") % 3 == 2), 2, mdl)
    assert _state() == before


def test_bm25_batch_append_refuses_stream_maintained_index(spark, tmp_path):
    """Layout-safety guard: bm25_append_index on a STREAM-MAINTAINED
    index (ingest_batch-partitioned postings) would write a mixed
    partition layout Spark cannot read back — it must refuse with the
    remedy, leaving the index untouched and searchable."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )

    docs = spark.createDataFrame(
        [(1, "spark data table"), (2, "spark join fast")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "maint")
    bm25_maintenance_batch(docs, 0, idx, n_buckets=4)
    more = spark.createDataFrame([(3, "data join")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stream-maintained"):
        bm25_append_index(more, idx)
    qdf = spark.createDataFrame([(1, "spark")], "query_id int, term string")
    hits = bm25_search_index(qdf, idx, k=5).collect()
    assert len(hits) == 2  # untouched and searchable


def test_bm25_compact_maintained_index_roundtrip(spark, tmp_path):
    """Compaction closes the maintenance loop: a stream-maintained index
    (ingest_batch partitions — the small-files shape after months of
    micro-batches) compacts into the batch layout with ONE file per
    bucket; searches are bit-equal; the compacted index accepts batch
    appends again (the stream-layout guard no longer fires); the
    maintained fingerprint carries over (compaction changes layout, not
    content)."""
    import os

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_append_index,
        bm25_compact_index,
        bm25_index_is_fresh,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 90)
    maint = str(tmp_path / "maint")
    for i in range(3):
        bm25_maintenance_batch(
            docs.filter(F.col("doc_id") % 3 == i), i, maint, n_buckets=4
        )
    qdf = spark.createDataFrame(
        [(1, "spark"), (1, "data"), (2, "order")], "query_id int, term string"
    )
    before = sorted(map(tuple, bm25_search_index(qdf, maint, k=5).collect()))
    assert len(before) > 0

    compacted = str(tmp_path / "compacted")
    bm25_compact_index(spark, maint, compacted)
    after = sorted(map(tuple, bm25_search_index(qdf, compacted, k=5).collect()))
    assert after == before

    # batch shape: bucket-only partitions, ONE data file per bucket
    pdir = os.path.join(compacted, "postings")
    buckets = [d for d in os.listdir(pdir) if d.startswith("bucket=")]
    assert buckets and not any(d.startswith("ingest_batch=") for d in os.listdir(pdir))
    for b in buckets:
        files = [f for f in os.listdir(os.path.join(pdir, b)) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)

    # fingerprint carried over: fresh for the streamed corpus
    assert bm25_index_is_fresh(docs, compacted) is True
    # and the compacted index is batch-shaped: appends are accepted and
    # keep it consistent (fresh for the union)
    extra = load_table(spark, SF, "documents").filter(
        (F.col("doc_id") >= 90) & (F.col("doc_id") < 120)
    )
    bm25_append_index(extra, compacted)
    assert bm25_index_is_fresh(docs.unionByName(extra), compacted) is True
    assert bm25_search_index(qdf, compacted, k=5).count() > 0


def test_positional_compact_graduates_stream_index(spark, tmp_path):
    """Positional compaction: a stream-built index (batch partitions, no
    stats/) compacts bucket-only with searches bit-equal; passing the
    corpus ESTABLISHES the fingerprint, graduating it into the
    freshness cycle — is_fresh True and batch appends accepted."""
    import os

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_append_index,
        positional_compact_index,
        positional_index_is_fresh,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 90)
    src = str(tmp_path / "streamy")
    for i in range(3):
        positional_ingest_batch(
            docs.filter(F.col("doc_id") % 3 == i), i, src, n_buckets=4
        )
    before = sorted(map(tuple, phrase_search_index(spark, src, "order fast").collect()))
    assert len(before) > 0

    dst = str(tmp_path / "graduated")
    positional_compact_index(spark, src, dst, corpus=docs)
    after = sorted(map(tuple, phrase_search_index(spark, dst, "order fast").collect()))
    assert after == before
    pdir = os.path.join(dst, "positions")
    assert not any(d.startswith("ingest_batch=") for d in os.listdir(pdir))
    assert positional_index_is_fresh(docs, dst) is True

    extra = load_table(spark, SF, "documents").filter(
        (F.col("doc_id") >= 90) & (F.col("doc_id") < 110)
    )
    positional_append_index(extra, dst)
    assert positional_index_is_fresh(docs.unionByName(extra), dst) is True

    # without a corpus: searchable but fingerprint-less (stays outside
    # the freshness cycle, like its stream-built source)
    dst2 = str(tmp_path / "nofp")
    positional_compact_index(spark, src, dst2)
    assert sorted(
        map(tuple, phrase_search_index(spark, dst2, "order fast").collect())
    ) == before
    assert positional_index_is_fresh(docs, dst2) is False


def test_ivfpq_compact_index_bit_equal_and_one_file_per_cell(spark, tmp_path):
    """The vector member of the compaction triptych: after appends
    fragment the cid partitions, compaction rewrites one file per cell;
    searches bit-equal; quantizers + fingerprint copy verbatim, so
    is_fresh carries over for the appended union."""
    import os

    import pytest

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
        ivfpq_compact_index,
        ivfpq_index_is_fresh,
        ivfpq_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 120)
    base = emb.filter(F.col("vec_id") < 80)
    batch = emb.filter(F.col("vec_id") >= 80)
    params = dict(n_cells=8, m=8, n_centroids=8, iters=1)
    src = str(tmp_path / "src")
    ivfpq_build_index(base, src, **params)
    ivfpq_append_index(batch, src)

    queries = emb.filter(F.col("vec_id") < 3)
    kw = dict(k=3, probes=3, rerank=20, dims=64, **params)
    before = sorted(map(tuple, ivfpq_search_index(queries, emb, src, **kw).collect()))
    assert len(before) == 9

    dst = str(tmp_path / "dst")
    ivfpq_compact_index(spark, src, dst)
    after = sorted(map(tuple, ivfpq_search_index(queries, emb, dst, **kw).collect()))
    assert after == before

    cdir = os.path.join(dst, "codes")
    cells = [d for d in os.listdir(cdir) if d.startswith("cid=")]
    assert cells
    for c in cells:
        files = [f for f in os.listdir(os.path.join(cdir, c)) if f.endswith(".parquet")]
        assert len(files) == 1, (c, files)
    # the appended-union fingerprint carried over
    assert ivfpq_index_is_fresh(emb, dst) is True
    assert ivfpq_index_is_fresh(base, dst) is False

    # a scheme-stripped index is refused, not blessed
    stripped = str(tmp_path / "stripped")
    spark.read.parquet(f"{src}/codes").select(
        "vec_id", "sub", F.col("scid").alias("scid", metadata={}), "cid"
    ).write.partitionBy("cid").parquet(f"{stripped}/codes")
    with pytest.raises(ValueError, match="no parameter metadata"):
        ivfpq_compact_index(spark, stripped, str(tmp_path / "never"))


def test_epoch_and_absent_table_probes_launch_no_job(spark, tmp_path):
    """The maintenance streams probe their state once per micro-batch:
    the newest committed epoch (``max_epoch_below``) and whether the
    dedup corpus exists yet (``dedup_stream._read_or_empty``). Both read
    directory names only. Epochs 0 and 1 hold data; ``epoch=2`` holds
    only the ``_temporary`` a crashed attempt leaves, which a parquet read
    would not discover either — so below=3 gives 1. Neither probe
    launches a Spark job (counted by job group)."""
    import os

    from data_warehouse_punta_fina_spark.streaming.dedup_stream import _read_or_empty
    from data_warehouse_punta_fina_spark.streaming.epochs import max_epoch_below, write_epoch

    root = str(tmp_path / "stats_epochs")
    for e in (0, 1):
        write_epoch(spark.range(2), root, e)
    os.makedirs(f"{root}/epoch=2/_temporary/0")
    crashed = str(tmp_path / "crashed")
    os.makedirs(f"{crashed}/_temporary/0")
    absent = str(tmp_path / "absent")

    sc = spark.sparkContext
    group = "epoch-probe-no-job"
    sc.setJobGroup(group, "epoch and absent-table probes")
    try:
        got = max_epoch_below(spark, root, 3)
        assert max_epoch_below(spark, root, 1) == 0
        assert max_epoch_below(spark, root, 0) is None
        assert max_epoch_below(spark, absent, 3) is None
        empty = [_read_or_empty(spark, p, "doc_id long") for p in (absent, crashed)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert got == 1
    assert all(df.columns == ["doc_id"] for df in empty)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    # a table with data is read, not replaced by the empty frame
    assert _read_or_empty(spark, f"{root}/epoch=1", "doc_id long").columns == ["id"]
