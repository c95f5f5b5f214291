"""Continuous-ingestion near-dup filtering: Structured Streaming ×
the persisted LSH band index.

The production shape for a crawl pipeline: documents arrive continuously;
each micro-batch must be admitted only if it does NOT near-duplicate the
already-admitted corpus, and admitted documents immediately extend the
index that screens later batches. This composes two existing operators —
``streaming.file_stream.drain`` (checkpointed micro-batches; the
reference's chunk loop, `core/batch_processor.py:314-411`, re-expressed)
runs :func:`dedup_ingest_batch`, which calls
``operators.dedup.incremental_lsh_dedup`` (band-join candidates
new × index, candidate-bounded exact verify) inside ``foreachBatch``,
the Structured Streaming escape hatch for batch-only sinks/joins.

Exactly-once posture: every per-batch output (verdicts, admitted docs,
new index rows) is written to a partition keyed by the micro-batch id
with dynamic partition overwrite, so a replayed batch (failure between
write and checkpoint commit) OVERWRITES its own partition instead of
appending duplicates — the standard idempotent-foreachBatch pattern.

Scale shape per micro-batch: the batch's band keys are computed once
(batch-sized); the join probes the stored index (corpus-sized but
fixed-width band keys, partitioned by band); verify tokenizes only
candidate docs. Intra-batch near-duplicates are NOT cross-checked
against each other (they arrive "simultaneously"); an exact within-batch
text dedup runs first so at least identical payloads collapse — the
residual near-dup-within-one-trigger window shrinks with trigger size,
the classic micro-batching granularity trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_warehouse_punta_fina_spark.operators.dedup import (
    incremental_lsh_dedup,
    minhash_band_keys,
)
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import data_entries, read_parquet

BATCH_COL = "ingest_batch"


def _read_or_empty(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """``path`` read as parquet, or an empty frame of ``schema`` when it
    holds no data entry yet (absent before batch 0). Anything else is
    read, so a corrupt/unreadable existing table raises: silently
    treating the corpus as empty would admit every duplicate in the
    batch."""
    if not data_entries(spark, path):
        return literal_table(spark, [], schema)
    return read_parquet(spark, path)


def dedup_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    admitted_path: str,
    index_path: str,
    verdicts_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.2,
) -> None:
    """Process ONE micro-batch: classify against the persisted corpus,
    then extend corpus + index with the admitted survivors. Callable
    directly for batch-mode replay (the test replays the stream's own
    batch grouping through this function and asserts identical verdicts).
    """
    spark = batch.sparkSession

    # collapse identical payloads within the trigger (deterministic keep
    # lowest id); near-dups within one trigger are a documented window
    batch = (
        batch.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    corpus = _read_or_empty(
        spark, admitted_path, batch.schema
    ).drop(BATCH_COL)
    index_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ]
    )
    stored = _read_or_empty(spark, index_path, index_schema).drop(BATCH_COL)
    have_index = bool(stored.head(1))

    verdicts = incremental_lsh_dedup(
        corpus,
        batch,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        corpus_bands=stored if have_index else None,
    )

    admitted = batch.join(
        verdicts.filter(F.col("is_dup")).select(F.col(id_col)),
        id_col,
        "left_anti",
    )

    bpart = F.lit(int(batch_id)).alias(BATCH_COL)
    (
        verdicts.withColumn(BATCH_COL, bpart)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(verdicts_path)
    )
    (
        admitted.withColumn(BATCH_COL, bpart)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(admitted_path)
    )
    (
        minhash_band_keys(admitted, text_col, id_col, num_hashes, bands, shingle_n)
        .withColumn(BATCH_COL, bpart)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(index_path)
    )
