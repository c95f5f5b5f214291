"""Continuous positional-index MAINTENANCE: Structured Streaming ×
the persisted positional index (round-11).

The other streaming twins SEARCH static artifacts (band index, NB
model, IVF-PQ, BM25 postings) and leave maintenance to out-of-band
jobs. The positional index is the one artifact whose append is O(batch)
with NO global state (``retrieval.positional_append_index``: positions
are per-doc; no df/avgdl/quantizer to refresh), which makes it the
family's safe candidate for CONTINUOUS maintenance: documents arrive as
a stream and every micro-batch lands its (term, doc, positions-array)
postings (the v2 delta-encoded layout) in the index directly.

Exactly-once discipline (the dedup_stream ingest pattern): each batch's
rows are written with dynamic partition overwrite under
``ingest_batch=<id>/bucket=<b>`` — a replayed batch (failure between
write and checkpoint commit) overwrites exactly its own partition
subtree, so the stored index is idempotent under replay. Batches remain
independently replayable in ANY order because position rows from
different docs never interact at write time (the disjoint-id ingest
contract shared with every append path).

Search compatibility: :func:`~.retrieval.phrase_search_index` and
:func:`~.retrieval.proximity_search_index` read the stream-built layout
unchanged — ``bucket`` is still a partition column (one level below the
batch partition), so term-bucket pruning holds; the extra
``ingest_batch`` column never reaches an output. Scheme + n_buckets
ride as column metadata exactly as in the batch build.

Freshness note: the stream-built index carries NO corpus fingerprint —
its staleness discipline is the CHECKPOINT (the source offsets say
exactly which documents are in the index). ``operators/freshness.py``
owns the content check, and with no ``stats/`` table to read,
``positional_index_is_fresh`` reports False, as for a missing index. A
fingerprinted snapshot is what ``positional_build_index`` (or
``positional_compact_index(corpus=...)``) writes; there is no refresh
function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.freshness import stamp
from data_warehouse_punta_fina_spark.operators.retrieval import (
    POS_SCHEME,
    _pos_postings,
)

BATCH_COL = "ingest_batch"


def positional_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Tokenize ONE micro-batch and land its (term, doc) ARRAY postings
    (the v2 delta-encoded layout — ``retrieval._pos_postings``) in the
    bucketed index under the batch's own partition — idempotent under
    replay (dynamic overwrite of ``ingest_batch=<id>``). A document's
    positions all arrive in its own batch (documents stream whole), so
    per-batch arrays are COMPLETE postings — the same rows a batch
    rebuild would produce. Callable directly for batch-mode replay
    parity tests.

    No global state here, but the batch-id regression guard still
    applies (ADVICE r12, shared with the BM25/NB maintenance streams):
    a reset checkpoint restarting at 0 would leave older
    ``ingest_batch`` partitions in place while re-ingesting the same
    documents under new ids — duplicate postings, silently."""
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        guard_batch_regression,
        guard_stream_ownership,
    )

    guard_stream_ownership(batch.sparkSession, f"{index_path}/positions")
    guard_batch_regression(
        batch.sparkSession,
        index_path,
        int(batch_id),
        batch_subdirs=("positions",),
    )
    postings = _pos_postings(batch, text_col, id_col)
    bucket = F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("bucket")
    (
        postings.select(
            "term",
            id_col,
            stamp("tf", POS_SCHEME, n_buckets=n_buckets),
            "positions",
            bucket,
        )
        .withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL, "bucket")
        .parquet(f"{index_path}/positions")
    )
