"""Index-directory retirement (``operators/index_admin.py``): after a
compaction cuts readers over to the compacted index, ``retire_index_dir``
deletes the superseded fragmented layout and its epoch history and leaves
a tombstone, so a replayed maintenance stream pointed at the retired path
refuses loudly instead of re-bootstrapping a fork next to live readers."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _docs(spark, lo: int, hi: int):
    return spark.createDataFrame(
        [(i, f"term{i % 5} data merge value row {i}") for i in range(lo, hi)],
        "doc_id long, text string",
    )


def test_retire_bm25_maintained_lifecycle(spark, tmp_path):
    """The full graduation: stream-maintain → compact → path-swap →
    retire. Afterward the compacted index searches bit-identically, the
    fragmented layout AND its epoch history are gone, and a replayed
    maintenance batch (resumed checkpoint pointed at the retired path)
    raises the ownership guard instead of silently re-bootstrapping a
    fork next to live readers."""
    from data_warehouse_punta_fina_spark.operators.index_admin import (
        read_tombstone,
        retire_index_dir,
    )
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_compact_index,
        bm25_search_index,
    )
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import (
        bm25_maintenance_batch,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        RetiredArtifactError,
    )

    src = str(tmp_path / "maint")
    for i in range(2):
        bm25_maintenance_batch(_docs(spark, i * 20, (i + 1) * 20), i, src, n_buckets=4)
    assert os.path.isdir(os.path.join(src, "stats_epochs"))

    dst = str(tmp_path / "compacted")
    bm25_compact_index(spark, src, dst)
    qdf = spark.createDataFrame(
        [(1, "term1"), (1, "data"), (2, "merge")], "query_id int, term string"
    )
    before = sorted(map(tuple, bm25_search_index(qdf, dst, k=5).collect()))
    assert before

    res = retire_index_dir(spark, src, dst, "bm25", min_age_seconds=0)
    assert res["n_deleted"] >= 3  # postings + dfstats(+epochs) + stats(+epochs)

    # dst searches unaffected
    after = sorted(map(tuple, bm25_search_index(qdf, dst, k=5).collect()))
    assert after == before
    # src data gone — only the tombstone remains; the epoch history died
    # with the fragmented layout (the prune_epochs keep-≥2 tail closed)
    assert [f for f in sorted(os.listdir(src)) if not f.startswith(".")] == ["_RETIRED.json"]
    ts = read_tombstone(spark, src)
    assert ts["superseded_by"] == dst and ts["family"] == "bm25"
    # a reader pointed at the retired path fails (no silent empty read)
    with pytest.raises(Exception):
        spark.read.parquet(f"{src}/postings").collect()
    # the replayed/resumed stream raises the ownership guard, with the
    # superseding path in the message
    with pytest.raises(RetiredArtifactError, match="compacted"):
        bm25_maintenance_batch(_docs(spark, 20, 40), 1, src, n_buckets=4)
    # and so does a "fresh checkpoint" first batch — absent-dir state
    # must NOT look like a legitimate bootstrap
    with pytest.raises(RetiredArtifactError):
        bm25_maintenance_batch(_docs(spark, 0, 20), 0, src, n_buckets=4)


def test_retire_refusals(spark, tmp_path):
    """Every refusal lane: same path, missing src, invalid dst, corpus
    mismatch, age horizon, double retirement, retired dst."""
    from data_warehouse_punta_fina_spark.operators.index_admin import (
        retire_index_dir,
    )
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
    )

    a = str(tmp_path / "a")
    bm25_build_index(_docs(spark, 0, 30), a, n_buckets=4)

    with pytest.raises(ValueError, match="same path"):
        retire_index_dir(spark, a, a, "bm25", min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        retire_index_dir(spark, str(tmp_path / "nope"), a, "bm25", min_age_seconds=0)
    with pytest.raises(ValueError, match="family"):
        retire_index_dir(spark, a, str(tmp_path / "b"), "tfidf", min_age_seconds=0)
    # dst over a DIFFERENT corpus: refuse — retiring src would delete
    # the only index over its documents
    b = str(tmp_path / "b")
    bm25_build_index(_docs(spark, 100, 140), b, n_buckets=4)
    with pytest.raises(ValueError, match="same corpus"):
        retire_index_dir(spark, a, b, "bm25", min_age_seconds=0)
    # age horizon: both were written seconds ago
    c = str(tmp_path / "c")
    bm25_build_index(_docs(spark, 0, 30), c, n_buckets=4)
    with pytest.raises(ValueError, match="horizon"):
        retire_index_dir(spark, a, c, "bm25", min_age_seconds=3600)
    # a valid retirement, then both double-retire lanes
    retire_index_dir(spark, a, c, "bm25", min_age_seconds=0)
    with pytest.raises(ValueError, match="already retired"):
        retire_index_dir(spark, a, c, "bm25", min_age_seconds=0)
    d = str(tmp_path / "d")
    bm25_build_index(_docs(spark, 0, 30), d, n_buckets=4)
    with pytest.raises(ValueError, match="itself retired"):
        retire_index_dir(spark, d, a, "bm25", min_age_seconds=0)
    # a tombstone that does not parse still retires the directory: a
    # maintenance batch must refuse it, not re-bootstrap a fork there
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        RetiredArtifactError,
        guard_stream_ownership,
    )

    garbled = tmp_path / "garbled"
    garbled.mkdir()
    (garbled / "_RETIRED.json").write_text("{not json")
    with pytest.raises(RetiredArtifactError, match="<unreadable tombstone>"):
        guard_stream_ownership(spark, str(garbled / "postings"))


def test_retire_ivfpq_maintained_lifecycle(spark, sf_dir, tmp_path):
    """The vector twin: stream-init + maintenance batches → compact →
    retire; searches on dst bit-identical, replay into src refused."""
    from data_warehouse_punta_fina_spark.operators.index_admin import (
        retire_index_dir,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import (
        ivfpq_compact_index,
        ivfpq_search_index,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.ann_stream import (
        ivfpq_maintenance_batch,
        ivfpq_stream_init,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        RetiredArtifactError,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    params = dict(n_cells=8, m=4, n_centroids=8, iters=1)
    src = str(tmp_path / "ivfpq_maint")
    ivfpq_stream_init(emb, src, **params)
    ivfpq_maintenance_batch(emb.filter(F.col("vec_id") % 2 == 0), 0, src)
    ivfpq_maintenance_batch(emb.filter(F.col("vec_id") % 2 == 1), 1, src)

    dst = str(tmp_path / "ivfpq_compacted")
    ivfpq_compact_index(spark, src, dst)
    q = emb.filter(F.col("vec_id") < 4)
    before = sorted(
        map(tuple, ivfpq_search_index(q, emb, dst, k=3, **params).collect())
    )
    assert before

    retire_index_dir(spark, src, dst, "ivfpq", min_age_seconds=0)
    after = sorted(
        map(tuple, ivfpq_search_index(q, emb, dst, k=3, **params).collect())
    )
    assert after == before
    assert [f for f in sorted(os.listdir(src)) if not f.startswith(".")] == ["_RETIRED.json"]
    with pytest.raises(RetiredArtifactError):
        ivfpq_maintenance_batch(emb.limit(5), 1, src)


def test_retire_positional_stream_doc_count_crosscheck(spark, tmp_path):
    """A stream-built positional src writes no stats/, so the supersede
    check falls back to distinct doc counts — and still refuses a dst
    over a different corpus."""
    from data_warehouse_punta_fina_spark.operators.index_admin import (
        retire_index_dir,
    )
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        phrase_search_index,
        positional_compact_index,
    )
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        RetiredArtifactError,
    )
    from data_warehouse_punta_fina_spark.streaming.positional_stream import (
        positional_ingest_batch,
    )

    docs = _docs(spark, 0, 30)
    src = str(tmp_path / "pos_stream")
    positional_ingest_batch(docs.filter(F.col("doc_id") < 15), 0, src, n_buckets=4)
    positional_ingest_batch(docs.filter(F.col("doc_id") >= 15), 1, src, n_buckets=4)

    dst = str(tmp_path / "pos_compacted")
    positional_compact_index(spark, src, dst, corpus=docs)
    before = sorted(
        map(tuple, phrase_search_index(spark, dst, "data merge").collect())
    )
    assert before

    # wrong-corpus dst refuses on the doc-count fallback
    wrong = str(tmp_path / "pos_wrong")
    positional_compact_index(spark, src, wrong, corpus=None)
    # drop a doc from 'wrong' by rebuilding from a smaller stream
    smaller = str(tmp_path / "pos_smaller_stream")
    positional_ingest_batch(docs.filter(F.col("doc_id") < 10), 0, smaller, n_buckets=4)
    wrong2 = str(tmp_path / "pos_wrong2")
    positional_compact_index(spark, smaller, wrong2)
    with pytest.raises(ValueError, match="same corpus"):
        retire_index_dir(spark, src, wrong2, "positional", min_age_seconds=0)

    retire_index_dir(spark, src, dst, "positional", min_age_seconds=0)
    after = sorted(
        map(tuple, phrase_search_index(spark, dst, "data merge").collect())
    )
    assert after == before
    assert [f for f in sorted(os.listdir(src)) if not f.startswith(".")] == ["_RETIRED.json"]
    with pytest.raises(RetiredArtifactError):
        positional_ingest_batch(docs.limit(5), 1, src, n_buckets=4)
