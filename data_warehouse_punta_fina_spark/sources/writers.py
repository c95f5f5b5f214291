"""Sinks (reference SURVEY.md §2.1 S9-S14).

The reference writes snappy parquet + CSV per table (`main.py:996-1010`)
and batch-inserts into PostgreSQL with truncate-and-load
(`loaders/database_loader.py:24-92`). Spark-first equivalents below;
parquet (optionally partitioned) is the canonical sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.sources.readers import read_parquet


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (S9). ``partition_by`` (e.g. ["fecha_id"]) enables
    partition pruning for date-ranged reads at scale — the reference
    declared ``enable_partitioning (by fecha)`` but never implemented it
    (`etl_config.yaml:284-359`)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (S10)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink — one object per line, gzip by default (the shape
    downstream tokenizer/training jobs consume; splittable formats should
    still prefer parquet, this is the interchange boundary)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — the other columnar interchange format (Hive/Trino
    ecosystems standardize on it where parquet isn't the default).
    Same footer-statistics story as parquet (stripe-level min/max for
    predicate pushdown), native to Spark with zero extra jars."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed managed table: later equi-joins/aggs on ``bucket_cols``
    co-locate WITHOUT a shuffle — the scale play for repeated large-fact ⨝
    large-fact joins where neither side broadcasts. (The reference never
    needed this; its declared-but-unimplemented `enable_partitioning` flag
    is the closest analogue, `etl_config.yaml:284-359`.)"""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)  # external table location
    writer.format("parquet").saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
    mode: str = "overwrite",
    n_files: int | None = None,
) -> None:
    """Layout-optimized parquet: hive-partitioned by low-cardinality
    ``partition_cols`` (directory pruning — a partition-filtered scan
    never opens non-matching files) and, within each partition,
    range-clustered + sorted by ``cluster_cols`` so parquet row-group
    min/max statistics let readers skip row groups for range/equality
    predicates on the cluster key. This is the 100 TB data-layout play:
    partition pruning cuts the file list, clustering cuts the pages read
    within surviving files — both visible in the scan node
    (PartitionFilters / PushedFilters, asserted by
    tests/test_plans.py::test_write_clustered_partition_pruning).

    ``repartitionByRange(partition ∪ cluster)`` gives one writer task per
    (partition, cluster-range) slice, so output files are few and
    fat with non-overlapping cluster ranges — NOT the one-file-per-task-
    per-partition spray a naive ``partitionBy`` write produces; pass
    ``n_files`` to set total write parallelism explicitly when partitions
    are large (stays a pure plan transform — no driver action). (Beyond
    the reference's surface: its `enable_partitioning` config flag is
    declared but unimplemented, `etl_config.yaml:284-359`.)"""
    cluster_cols = cluster_cols or []
    range_cols = [*partition_cols, *cluster_cols]
    if n_files:
        out = df.repartitionByRange(n_files, *range_cols)
    else:
        out = df.repartitionByRange(*range_cols)
    if cluster_cols:
        out = out.sortWithinPartitions(*range_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def zorder_key(cols: list, bits: int = 16):
    """Morton (z-order) interleaving of N numeric columns into one int64
    sort key. Each column is rank-normalized OUTSIDE this function
    (callers pass already-quantized non-negative ints < 2^bits); here the
    bits are interleaved so that sorting by the key clusters rows that
    are close in EVERY dimension — the multi-dimensional generalization
    of 1-D range clustering (Delta/Iceberg OPTIMIZE ZORDER does exactly
    this). N·bits must fit in 63 bits."""
    from pyspark.sql import Column

    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols × {bits} bits exceeds the int64 key")
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cols):
            c = F.col(c) if isinstance(c, str) else c
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = key + F.shiftleft(bit, b * n + i)
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: min-max-normalize each cluster column
    to [0, 2^bits) against a broadcast 1-row (min, max) aggregate,
    interleave into a morton key, then range-partition + sort on it.
    Result: every output file covers a BOUNDED box in every cluster
    dimension, so parquet min/max row-group stats prune scans filtered on
    ANY of the columns — where 1-D clustering (``write_clustered``)
    prunes only its leading key.

    Min-max normalization is deliberate: it is one in-plan broadcast
    aggregate — no global window, no driver action — where a rank/
    quantile normalization would either sort the whole table in one
    partition or collect quantiles on the driver. Heavily skewed columns
    get uneven box occupancy (fine: boxes stay bounded, pruning still
    works); swap in a sampled quantile lookup table only if skew measured
    bad. The morton interleave itself is pure per-row bit math."""
    scale = (1 << bits) - 1
    bounds = df.agg(
        *[
            f
            for c in cluster_cols
            for f in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"),
            )
        ]
    )
    norm = df.crossJoin(F.broadcast(bounds))
    qcols = []
    for c in cluster_cols:
        qc = f"_q_{c}"
        span = F.greatest(F.col(f"_hi_{c}") - F.col(f"_lo_{c}"), F.lit(1e-12))
        frac = (F.col(c).cast("double") - F.col(f"_lo_{c}")) / span
        norm = norm.withColumn(
            qc, F.least(F.floor(frac * F.lit(float(scale + 1))), F.lit(scale)).cast("long")
        )
        qcols.append(qc)
    keyed = norm.withColumn("_zkey", zorder_key(qcols, bits)).drop(
        *[f"_lo_{c}" for c in cluster_cols], *[f"_hi_{c}" for c in cluster_cols]
    )
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey", *qcols)
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 << 20,
    cluster_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files — the OPTIMIZE half of lakehouse
    table maintenance. Streaming sinks, per-batch ingestion
    (``dedup_stream``), and fine-grained partition overwrites all
    accumulate small files, and at 100 TB the scan-planning and
    open-per-file costs dominate long before the data does.

    Sizing uses the Hadoop FileSystem content summary (works on any FS
    Spark can read, not just local). With ``cluster_cols`` the rewrite
    also range-clusters+sorts (compact AND cluster in one pass, like
    OPTIMIZE ... ZORDER's 1-D cousin); otherwise a round-robin
    repartition balances file sizes exactly. Writes to ``dest_path`` —
    rewriting in place would race the scan reading ``src_path``; swap
    directories (or table pointers) atomically outside this function.
    Returns the target file count."""
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(hpath).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = read_parquet(spark, src_path)
    if cluster_cols:
        out = df.repartitionByRange(n_files, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dest_path)
    return n_files


EXCEL_MAX_ROWS = 1_048_576  # hard xlsx sheet limit


def write_excel(df: DataFrame, path: str, sheet_name: str = "datos") -> None:
    """Excel export (S15; reference `exportar_dimensiones_excel.py:25-171`).

    Deliberately driver-side: xlsx is a REPORTING artifact with a hard
    1,048,576-row sheet limit, so it is only ever produced from
    dimension-sized results — the guard makes the contract explicit
    instead of letting toPandas() OOM on a fact table. Gated on openpyxl
    (not installed in this container; the plumbing and guard are tested,
    the final write unlocks by installing the library)."""
    n = df.count()
    if n > EXCEL_MAX_ROWS:
        raise ValueError(
            f"Excel sheets cap at {EXCEL_MAX_ROWS} rows ({n} given) — export parquet/CSV instead"
        )
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without openpyxl
        raise NotImplementedError(
            "Excel export requires openpyxl — not available in this container"
        ) from e
    df.toPandas().to_excel(path, sheet_name=sheet_name, index=False)


def write_excel_workbook(sheets: dict[str, DataFrame], path: str) -> None:
    """Multi-sheet workbook export (S15; reference
    `exportar_dimensiones_excel.py:25-171` writes ONE xlsx holding every
    dim + fact + a summary sheet). ``sheets`` maps sheet name → DataFrame
    in insertion order. Same posture as :func:`write_excel`: driver-side
    by design (reporting artifact), per-sheet row-cap guard BEFORE any
    data is fetched (all sheets validated up front so a failure can't
    leave a half-written workbook), gated on openpyxl. Sheet names are
    truncated to Excel's 31-char limit; a collision after truncation is
    an error rather than a silent overwrite."""
    if not sheets:
        raise ValueError("write_excel_workbook needs at least one sheet")
    import pandas as pd

    names: dict[str, DataFrame] = {}
    for name, df in sheets.items():
        short = name[:31]
        if short in names:
            raise ValueError(f"sheet name collision after 31-char truncation: {short!r}")
        names[short] = df
    counts = {name: df.count() for name, df in names.items()}
    over = {n: c for n, c in counts.items() if c > EXCEL_MAX_ROWS}
    if over:
        raise ValueError(
            f"Excel sheets cap at {EXCEL_MAX_ROWS} rows — over-limit sheets: {over}"
        )
    try:
        import openpyxl  # noqa: F401
    except ImportError as e:  # pragma: no cover - env without openpyxl
        raise NotImplementedError(
            "Excel export requires openpyxl — not available in this container"
        ) from e
    with pd.ExcelWriter(path, engine="openpyxl") as writer:
        for name, df in names.items():
            df.toPandas().to_excel(writer, sheet_name=name, index=False)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    truncate: bool = False,
    **options: str,
) -> None:
    """JDBC sink (S11/S12). ``mode='overwrite', truncate=True`` reproduces
    the reference's truncate-and-load strategy; ``batchsize`` maps its
    ``execute_values(page_size=1000)`` batching (`main.py:414`)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if truncate:
        writer = writer.option("truncate", "true")
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def idempotent_append_jdbc(
    df: DataFrame,
    existing_keys: DataFrame,
    keys: list[str],
    url: str,
    table: str,
    **options: str,
) -> None:
    """Conflict-ignoring insert (S13): Spark JDBC has no ON CONFLICT, so
    dedupe-before-write via left_anti against the target's current keys
    (reference `main.py:408-414`).

    SINGLE-WRITER assumption (documented, not enforced): the read of
    ``existing_keys`` and the append are not one atomic statement, so two
    loaders appending the same keys concurrently can both pass the
    anti-join and duplicate rows — unlike the reference's PG-native
    ``ON CONFLICT DO NOTHING``, which is atomic per row. This matches the
    reference ETL's actual deployment (one sequential loader). If
    concurrent writers are ever needed, route the load through
    ``sources.txlog`` (its commit protocol serializes appends and makes
    replays idempotent) or enforce a DB-side unique constraint and accept
    per-batch failures as the conflict signal."""
    fresh = df.join(existing_keys.select(*keys), on=keys, how="left_anti")
    write_jdbc(fresh, url, table, mode="append", **options)
