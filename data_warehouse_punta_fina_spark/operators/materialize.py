"""Materialization of multiply-consumed intermediates.

A DataFrame consumed by more than one branch (LSH band tables, shingle
tables, k-means centroids, an iteration's state) re-executes its whole
subplan per branch unless it is materialized. :func:`materialize` is the
one place in the package that does it; every operator and registry
builder calls it instead of ``localCheckpoint``/``checkpoint``.

The mode is a deployment setting, not an argument: it follows the
session's checkpoint directory (``spark.checkpoint.dir`` at startup, or
``SparkContext.setCheckpointDir``).

- **no checkpoint directory** (the default): ``localCheckpoint`` — blocks
  live on the executors, no I/O. The blocks carry no lineage, so losing
  an executor that holds one fails the query.
- **checkpoint directory set**: ``checkpoint`` — the intermediate is
  written as reliable files under the directory, and a lost executor's
  partitions are read back from them. A lazy reliable checkpoint costs
  one extra write job, which recomputes the intermediate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for multi-branch consumption.

    Lazy by default: the materialization happens with the first action
    on the returned frame. ``eager=True`` runs it now — for a frame that
    must be fully read before something overwrites its source.
    Column metadata (e.g. the LSH parameter fingerprint on band tables)
    survives both modes."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def build_concurrently(builders: list) -> list:
    """Run independent DataFrame-producing builders in parallel driver
    threads and return their results in order.

    Why this exists (guide §2.6 "overlap independent jobs"): under AQE,
    any builder that materializes — :func:`materialize` (even lazily:
    compiling the plan to an RDD forces every shuffle stage below the
    final one to execute synchronously), a parquet write, or a collect —
    runs its whole stage chain at CALL time. Two
    independent legs built sequentially therefore serialize their
    chains even though no data dependency connects them; the profiler
    sees one long string of tiny 1-task AQE stage-jobs (the r15
    ann_ivfpq finding). Submitting each builder from its own thread
    lets the scheduler overlap the chains — FIFO scheduling back-fills
    the idle cores of one leg's stage tail with the other leg's tasks.

    Builders must be independent (no shared mutable state); each
    normally ends in an action so its work actually happens inside the
    thread — ``materialize(...)``, or a write (the
    star build runs each table's build, parquet write and count as one
    builder, ``plans.pipeline.run_star_build``). In pinned-thread mode
    (PySpark's default) each thread inherits the caller's local
    properties (job group, job description), so group cancellation and
    job attribution cover its jobs. Exceptions propagate to the caller
    once every builder has finished. Plans, results and their values are
    identical to the sequential construction — only the wall-clock
    interleaving changes.
    """
    if len(builders) == 1:
        return [builders[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from py4j.clientserver import ClientServer
    from pyspark import SparkContext, inheritable_thread_target
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    # In pinned-thread mode (a ClientServer gateway) Spark 4 wants the
    # session handle so thread tags/local properties are inherited without
    # the "Tags will not be inherited" warning. With pinning off,
    # inheritable_thread_target returns its argument unchanged, so given
    # the session it would hand back the session instead of a wrapper.
    pinned = isinstance(SparkContext._gateway, ClientServer)
    wrap = (
        inheritable_thread_target(session)
        if pinned and session is not None
        else inheritable_thread_target
    )
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [pool.submit(wrap(b)) for b in builders]
        return [f.result() for f in futures]
