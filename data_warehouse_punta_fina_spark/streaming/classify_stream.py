"""Continuous filter-model scoring: Structured Streaming × the persisted
NB model.

The curation-filter deployment loop: documents arrive continuously; each
micro-batch is scored against the PERSISTED model (``nb_save_model`` —
trained once, scheme-fingerprinted) and routed keep/drop by the predicted
class and the decision margin. This is the streaming twin of
``doc_nb_persisted_classifier`` exactly as ``dedup_stream`` is the
streaming twin of the persisted band index: ``foreachBatch`` hosts the
batch-only pieces (the per-doc argmax window), and every per-batch output
lands in a partition keyed by the micro-batch id with dynamic partition
overwrite, so a replayed batch (failure between write and checkpoint
commit) overwrites its own partition — the idempotent-foreachBatch
exactly-once posture.

Scale shape per micro-batch: only the batch is tokenized (batch-sized
explode); the vocabulary-sized model broadcasts; nothing in the loop
re-reads the training corpus. The model is deliberately STATIC between
retrains (standard filter-model ops): admitting scored docs never
changes the scorer, so batches are independently replayable in any
order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.operators.classify import nb_score_model
from data_warehouse_punta_fina_spark.operators.freshness import stamp
from data_warehouse_punta_fina_spark.sources.readers import data_entries, read_parquet

BATCH_COL = "ingest_batch"


def classify_stream_batch(
    batch: DataFrame,
    batch_id: int,
    model_dir: str,
    scores_path: str,
    keep_class: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_margin: float = 0.0,
) -> None:
    """Score ONE micro-batch against the persisted model and write the
    verdicts ``(id, predicted, margin, n_tokens, keep)`` to the batch's
    own partition. ``keep`` = predicted == ``keep_class`` AND margin ≥
    ``min_margin`` (the standard confidence-thresholded filter; margin
    is the exact decimal best-vs-second gap, so the threshold is
    engine-portable). Callable directly for batch-mode replay — the test
    replays the stream's own batch grouping through this function and
    asserts identical verdicts."""
    scored = nb_score_model(
        batch, model_dir, text_col=text_col, id_col=id_col, label_col=None
    )
    # margin is NULL when the persisted model has a single class (lead()
    # over one candidate row yields NULL) — coalesce the verdict to an
    # explicit False so such docs are visible drops, never NULL rows that
    # silently vanish from a downstream filter(keep).
    verdicts = scored.withColumn(
        "keep",
        F.coalesce(
            (F.col("predicted") == F.lit(keep_class))
            & (F.col("margin") >= F.lit(float(min_margin))),
            F.lit(False),
        ),
    )
    (
        verdicts.withColumn(BATCH_COL, F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(scores_path)
    )


def nb_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    model_dir: str,
    text_col: str = "text",
    label_col: str = "label",
) -> None:
    """Round-12: CONTINUOUS NB-model maintenance — labeled documents
    arrive as a stream and every micro-batch updates the persisted
    model under the epoch discipline (``streaming/epochs.py``). The NB
    model is ENTIRELY global state, all of it exactly mergeable over
    disjoint batches: (class, term) occurrence counts add, per-class
    doc counts add, and the derived tables (priors from doc counts,
    vocabulary size from the merged cond) re-derive deterministically —
    so the maintained model is bit-equal to one monolithic
    ``nb_train`` over everything streamed, which is what the pytest
    asserts through ``nb_score_model`` on both.

    Epoch state under ``model_dir``:

    - ``cond_epochs/epoch=<id>`` — merged (_y, term, _c) counts;
    - ``classdocs_epochs/epoch=<id>`` — merged (_y, _nd) doc counts
      (the RAW integers the published priors derive from — the flat
      ``classes`` table stores only the derived ln-ratio, which does
      not merge);
    - flat ``cond/ classes/ consts/`` (the ``nb_save_model`` layout
      ``nb_score_model`` reads) published from the new epoch LAST.

    Replay-idempotent end to end: merges read the newest epoch strictly
    below ``batch_id``; a replayed batch re-derives identical counts and
    re-publishes identical tables. NULL-labeled rows are dropped (the
    ``nb_train`` discipline — a NULL class would poison the argmax)."""
    from data_warehouse_punta_fina_spark.operators.classify import NB_SCHEME, nb_train
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        guard_batch_regression,
        max_epoch_below,
        prune_epochs,
        write_epoch,
    )
    from data_warehouse_punta_fina_spark.functions.money import pround

    spark = batch.sparkSession
    # round-13 inverse guard: a BATCH-trained model (nb_save_model's
    # flat cond/ present, but no epoch history — any maintenance batch
    # leaves keep>=2 epochs behind) cannot be adopted in place: the
    # first stream batch would re-bootstrap from empty and OVERWRITE
    # the published tables, silently discarding the trained counts.
    from data_warehouse_punta_fina_spark.streaming.epochs import (
        _list_partition_ids,
    )

    if data_entries(spark, f"{model_dir}/cond") and not _list_partition_ids(
        spark, f"{model_dir}/cond_epochs", "epoch"
    ):
        raise ValueError(
            f"NB model at {model_dir!r} is batch-trained (published cond/ "
            "with no epoch history) — the maintenance stream would "
            "re-bootstrap from empty and overwrite it, silently discarding "
            "the trained counts. Keep training it with nb_save_model, or "
            "rebuild it THROUGH the maintenance stream from an empty "
            "directory."
        )
    # ADVICE r12: a reset checkpoint against an existing model would
    # silently re-bootstrap the counts from empty — fail loudly instead
    # (equality allowed: the sanctioned same-batch replay path)
    guard_batch_regression(
        spark,
        model_dir,
        int(batch_id),
        epoch_subdirs=("cond_epochs", "classdocs_epochs"),
    )
    labeled = batch.filter(F.col(label_col).isNotNull())

    # batch-sized counts: one tokenize of the batch (nb_train on the
    # batch alone — its cond/priors are exactly the batch's deltas; its
    # derived classes/consts are discarded, the merge re-derives them)
    cond_b, _classes_b, _consts_b = nb_train(labeled, text_col, label_col)
    docs_b = labeled.groupBy(F.col(label_col).alias("_y")).agg(
        F.count("*").alias("_nd")
    )

    src = max_epoch_below(spark, f"{model_dir}/cond_epochs", int(batch_id))
    cond_m = cond_b.select("_y", "term", "_c")
    docs_m = docs_b
    if src is not None:
        cond_m = read_parquet(spark, f"{model_dir}/cond_epochs/epoch={src}").unionByName(cond_m)
        docs_m = read_parquet(spark, f"{model_dir}/classdocs_epochs/epoch={src}").unionByName(docs_m)
    cond_m = cond_m.groupBy("_y", "term").agg(F.sum("_c").cast("long").alias("_c"))
    docs_m = docs_m.groupBy("_y").agg(F.sum("_nd").cast("long").alias("_nd"))
    write_epoch(cond_m, f"{model_dir}/cond_epochs", int(batch_id))
    write_epoch(docs_m, f"{model_dir}/classdocs_epochs", int(batch_id))

    # ---- publish the nb_save_model layout LAST --------------------------
    cond_new = read_parquet(spark, f"{model_dir}/cond_epochs/epoch={int(batch_id)}")
    docs_new = read_parquet(spark, f"{model_dir}/classdocs_epochs/epoch={int(batch_id)}")
    cond_new.select(
        "_y", "term", stamp("_c", NB_SCHEME, logprob_scale=6)
    ).write.mode("overwrite").parquet(f"{model_dir}/cond")
    tots = cond_new.groupBy("_y").agg(F.sum("_c").alias("_tot"))
    n_row = docs_new.agg(F.sum("_nd").alias("_n"))
    classes = (
        docs_new.join(tots, "_y", "left")
        .na.fill({"_tot": 0})
        .crossJoin(F.broadcast(n_row))
        .select(
            "_y",
            F.col("_tot").cast("long").alias("_tot"),
            pround(
                F.log(F.col("_nd").cast("double") / F.col("_n").cast("double")), 6, 12
            ).alias("_prior"),
        )
    )
    classes.write.mode("overwrite").parquet(f"{model_dir}/classes")
    cond_new.agg(F.countDistinct("term").cast("long").alias("_v")).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{model_dir}/consts")
    prune_epochs(spark, model_dir, ("cond_epochs", "classdocs_epochs"), keep=2)
