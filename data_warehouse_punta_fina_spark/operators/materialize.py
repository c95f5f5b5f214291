"""Materialization of multiply-consumed intermediates.

A DataFrame self-join (LSH band tables, shingle tables, k-means
centroids) re-executes its whole subplan per branch unless the
intermediate is materialized. Two tiers:

- **ephemeral** (default): ``localCheckpoint(eager=False)`` — blocks live
  on executors, zero I/O, ideal for a single interactive action. The
  caveat at cluster scale: checkpointed blocks have NO lineage, so a lost
  executor forces recompute of the whole plan from the source.
- **durable**: write the intermediate to parquet and read it back. Any
  executor loss replays from the files; the table is also reusable across
  jobs (this is how a persisted LSH band index is born — see
  ``incremental_lsh_dedup``'s ``corpus_bands``).

Operators that materialize an intermediate take an optional ``*_path``
parameter and route it here, so the sandbox default stays cheap while a
production deployment can flip every self-join input to durable storage
with one argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, path: str | None = None) -> DataFrame:
    """Materialize ``df`` once for multi-branch consumption.

    ``path=None`` → lazy local checkpoint (ephemeral, executor-resident).
    ``path=...``  → write-then-read parquet (durable, lineage-replayable,
    survives executor loss; column metadata — e.g. the LSH parameter
    fingerprint on band tables — survives the round-trip in the parquet
    footer).

    NOTE the durable path is EAGER by design: the write job runs at CALL
    time (not first action) and overwrites whatever parquet exists at
    ``path`` — durable materialization cannot be expressed lazily inside
    one Spark plan. Pass a path only when you will execute the returned
    plan; plan-inspection-only callers should use the default."""
    if path is None:
        return df.localCheckpoint(eager=False)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def build_concurrently(builders: list) -> list:
    """Run independent DataFrame-producing builders in parallel driver
    threads and return their results in order.

    Why this exists (guide §2.6 "overlap independent jobs"): under AQE,
    any builder that materializes — ``localCheckpoint`` (even
    ``eager=False``: compiling the plan to an RDD forces every shuffle
    stage below the final one to execute synchronously), a parquet
    write, or a collect — runs its whole stage chain at CALL time. Two
    independent legs built sequentially therefore serialize their
    chains even though no data dependency connects them; the profiler
    sees one long string of tiny 1-task AQE stage-jobs (the r15
    ann_ivfpq finding). Submitting each builder from its own thread
    lets the scheduler overlap the chains — FIFO scheduling back-fills
    the idle cores of one leg's stage tail with the other leg's tasks.

    Builders must be independent (no shared mutable state); each
    normally ends in an action so its work actually happens inside the
    thread — ``materialize(...)`` / ``localCheckpoint``, or a write (the
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
