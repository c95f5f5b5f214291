"""Structured Streaming wrappers (reference SURVEY.md §2.11).

The reference's ``StreamingBatchProcessor`` (`core/batch_processor.py:314-411`)
is chunked file iteration with checkpoint/resume, retry, and per-chunk
metrics, all driving one per-chunk callable (``process_func``). Spark-first
mapping:

- chunks        → file-source micro-batches (``maxFilesPerTrigger``)
- per-chunk fn  → a ``foreachBatch`` callable ``(batch, batch_id)``
- checkpoint    → ``checkpointLocation`` (exactly-once resume)
- retry/timeout → ``spark.task.maxFailures`` (task-level, automatic)
- metrics       → ``StreamingQuery.lastProgress``

``trigger(availableNow=True)`` drains everything that exists then stops —
the batch-with-resume semantics the reference actually implements.
:func:`drain` is the package's one micro-batch loop: every streaming
operator is a per-batch function (``dedup_ingest_batch``,
``bm25_maintenance_batch``, …) handed to it, e.g.
``drain(read_file_stream(spark, path, schema, max_files_per_trigger=1),
ckpt, functools.partial(bm25_maintenance_batch, index_dir=idx))``. This
module is the only one that touches ``.writeStream``.
:func:`run_available_now` is the same drain for a plain file sink.
:func:`tumbling_window_agg` is the one plan here that also runs on a
stream (with a watermark); its batch form is the events_tumbling_window
query, which has a SQL oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Checkpointable file-source stream (S5)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    process: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """Run ``process(batch, batch_id)`` on every micro-batch of ``stream``
    that exists now, then stop (availableNow). Resume-safe: the checkpoint
    replays an uncommitted batch under the same id, so ``process`` must
    overwrite what that id wrote before (every per-batch function here
    writes its own ``ingest_batch=<id>`` partition or epoch). The caller
    owns the returned query: ``awaitTermination`` it."""
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def tumbling_window_agg(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window counts/sums with late-data watermark.

    Works identically on a batch or streaming DataFrame — the same plan
    both ways, which is the point of Structured Streaming.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.window(ts_col, window_duration).alias("w"), F.col("event_type")
    ).agg(
        F.count("*").alias("n_events"),
        # round-then-decimal per row before the sum: exact under any
        # partial-aggregation order (float sums are not)
        F.sum(F.round("value", 2).cast("decimal(15,2)")).cast("decimal(18,2)").alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("event_type"),
        F.col("n_events"),
        F.col("total_value"),
    )


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    output_mode: str = "append",
    fmt: str = "parquet",
) -> StreamingQuery:
    """Drain-all-then-stop execution with resume-on-failure semantics
    (the reference's checkpointed chunk loop, `core/batch_processor.py:250-283`)."""
    q = (
        df.writeStream.format(fmt)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .option("path", output_path)
        .trigger(availableNow=True)
        .start()
    )
    return q
