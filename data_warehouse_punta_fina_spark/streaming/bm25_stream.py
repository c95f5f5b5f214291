"""Continuous lexical retrieval AND index maintenance: Structured
Streaming × the persisted BM25 inverted index.

The fourth member of the persisted-artifact streaming family
(dedup_stream × band index, classify_stream × NB model, ann_stream ×
IVF-PQ index): queries arrive continuously as (query_id, term) rows —
e.g. freshly ingested documents looking for their lexical lookalikes —
and each micro-batch searches the PERSISTED inverted index
(``retrieval.bm25_build_index``: word count run once per corpus
snapshot, scheme-fingerprinted), never tokenizing the corpus in the
loop. ``foreachBatch`` hosts the batch-only pieces (the per-query top-k
window), and every per-batch result lands in a partition keyed by the
micro-batch id with dynamic partition overwrite, so a replayed batch
(failure between write and checkpoint commit) overwrites its own
partition — the idempotent-foreachBatch exactly-once posture shared by
all four streaming twins.

Scale shape per micro-batch: the batch's (query_id, term) rows
broadcast into the (bucket, term) join; the batch side carries a
streaming-source predicate, so dynamic partition pruning keeps the
postings scan at the batch's term buckets. For :func:`bm25_stream_batch`
the index is STATIC between rebuilds — searches never mutate the
searched structure, so batches are independently replayable in any
order.

Round-12 (VERDICT r11 #4) adds the MAINTENANCE stream — the lexical
twin of ``streaming/positional_stream``: documents arrive as a stream
and every micro-batch lands in the index via the O(batch ∪ vocab)
append algebra (``retrieval.bm25_append_index``'s merge rules). The
subtlety positions don't have: BM25 carries GLOBAL state (df/N/
total_dl + the corpus fingerprint), so a replayed batch must not
double-merge the statistics even though its postings overwrite is
naturally idempotent. The discipline here is EPOCHED global state:

- ``postings/ingest_batch=<id>/bucket=<b>`` — the batch's word count,
  dynamic partition overwrite (idempotent, the dedup_stream pattern);
- ``dfstats_epochs/epoch=<id>`` / ``stats_epochs/epoch=<id>`` — the
  merged vocabulary + 1-row stats AS OF batch ``id``, each derived from
  the newest epoch STRICTLY BELOW ``id`` (so a replay re-derives the
  identical state from the identical source — bit-equal, never
  double-counted) and written by full overwrite of the epoch's own
  directory (idempotent under partial failure);
- ``dfstats/`` + ``stats/`` — the published flat copies (the layout
  ``retrieval.bm25_search_index`` reads), overwritten from the new
  epoch LAST. A crash anywhere replays the batch: every step either
  re-writes its own directory or re-derives from pre-batch state.

Because df/N/total_dl/fingerprint all merge exactly over disjoint doc
batches (integer sums / XOR), the maintained index is bit-equal to a
monolithic ``bm25_build_index`` over everything streamed so far — and
``bm25_index_is_fresh`` holds against the streamed corpus (unlike the
positional stream, whose staleness discipline is the checkpoint alone).

Both per-batch functions run under ``streaming.file_stream.drain``, e.g.
``drain(stream, ckpt, partial(bm25_maintenance_batch, index_dir=idx))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.freshness import (
    EMPTY,
    fingerprint_columns,
    fingerprint_of,
    live_fingerprint,
    merge_fingerprints,
    stamp,
)
from data_warehouse_punta_fina_spark.operators.retrieval import (
    BM25_SCHEME,
    bm25_search_index,
    corpus_term_stats,
)
from data_warehouse_punta_fina_spark.sources.readers import read_parquet

BATCH_COL = "ingest_batch"


def bm25_stream_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    results_path: str,
    k: int = 5,
    **search_kwargs,
) -> None:
    """Search ONE micro-batch of (query_id, term) rows against the
    persisted inverted index and write (query_id, doc_id, score, rank)
    to the batch's own partition. Callable directly for batch-mode
    replay; the test replays the stream's own batch grouping through
    this function and asserts identical rankings."""
    results = bm25_search_index(batch, index_dir, k=k, **search_kwargs)
    (
        results.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(results_path)
    )


def bm25_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Land ONE micro-batch of documents in the maintained BM25 index —
    the O(batch ∪ vocabulary) append under the epoch discipline (module
    docstring). Replay-idempotent END TO END: the postings overwrite
    its own ``ingest_batch`` partition; the dfstats/stats merges read
    the newest epoch STRICTLY BELOW ``batch_id`` (a half-written epoch
    ``batch_id`` from a failed attempt is overwritten, never read), so
    a replayed batch re-derives bit-identical global state instead of
    double-merging it. Callable directly for replay parity tests.

    Caller contract: batch doc ids are disjoint from everything already
    streamed (the universal single-writer append posture).

    Batch-id regression (ADVICE r12): a NEW/RESET checkpoint pointed at
    an existing maintained index restarts at batch 0 — global stats
    would silently re-bootstrap from empty while old ``ingest_batch``
    partitions remain. Guarded loudly up front
    (:func:`~.epochs.guard_batch_regression`; equality stays allowed —
    it is the sanctioned same-batch replay path the replay tests pin)."""
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        guard_batch_regression,
        guard_stream_ownership,
    )

    spark = batch.sparkSession
    # round-13 inverse guard: a BATCH-built index (root-level bucket=*
    # postings) must not be adopted in place — mixed layouts are
    # unreadable; compaction graduates stream→batch, never the reverse
    guard_stream_ownership(spark, f"{index_dir}/postings")
    guard_batch_regression(
        spark,
        index_dir,
        int(batch_id),
        epoch_subdirs=("dfstats_epochs", "stats_epochs"),
        batch_subdirs=("postings",),
    )
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")

    postings, df_new, _dl = corpus_term_stats(batch, text_col, id_col)
    (
        postings.select(
            "term", id_col, stamp("tf", BM25_SCHEME, n_buckets=n_buckets), "dl", bucket
        )
        .withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL, "bucket")
        .parquet(f"{index_dir}/postings")
    )

    # ---- merged vocabulary: source epoch ∪ batch df deltas ------------
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        max_epoch_below,
        prune_epochs,
    )

    src = max_epoch_below(spark, f"{index_dir}/dfstats_epochs", int(batch_id))
    merged_df = df_new.select("term", "df")
    old_fp, old_total_dl = EMPTY, 0
    if src is not None:
        old_df = read_parquet(spark, f"{index_dir}/dfstats_epochs/epoch={src}")
        merged_df = old_df.select("term", "df").unionByName(merged_df)
        old = read_parquet(spark, f"{index_dir}/stats_epochs/epoch={src}").collect()[0]
        old_fp, old_total_dl = fingerprint_of(old), int(old["total_dl"])
    merged_df = (
        merged_df.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .select("term", "df", bucket)
    )
    merged_df.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{index_dir}/dfstats_epochs/epoch={int(batch_id)}"
    )

    # ---- merged 1-row stats + fingerprint ------------------------------
    merged = merge_fingerprints(old_fp, live_fingerprint(batch, id_col, text_col))
    batch_total_dl = int(
        postings.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("t")).collect()[0]["t"]
    )
    stats_df = spark.range(1).select(
        *fingerprint_columns(merged, count="n_docs"),
        F.lit(old_total_dl + batch_total_dl).cast("long").alias("total_dl"),
    )
    stats_df.coalesce(1).write.mode("overwrite").parquet(
        f"{index_dir}/stats_epochs/epoch={int(batch_id)}"
    )

    # ---- publish the flat read layout LAST ------------------------------
    # (search reads dfstats/ + stats/; both derive from the new epoch's
    # committed copies, so a crash before either overwrite completes is
    # healed by replay re-publishing from the same epoch)
    (
        read_parquet(spark, f"{index_dir}/dfstats_epochs/epoch={int(batch_id)}")
        .select("term", "df", bucket)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/dfstats")
    )
    (
        read_parquet(spark, f"{index_dir}/stats_epochs/epoch={int(batch_id)}")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/stats")
    )

    # ---- bound the epoch history (streaming/epochs.py invariant) --------
    prune_epochs(spark, index_dir, ("dfstats_epochs", "stats_epochs"), keep=2)
