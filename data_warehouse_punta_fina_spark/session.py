"""SparkSession factory.

Scale posture: AQE on (runtime coalesce + skew-join), shuffle partitions
sized for the local test harness but overridable via env for a real
cluster, UTC timezone pinned so timestamp semantics match external oracles
(DuckDB is UTC-naive), Arrow enabled for the pandas-UDF paths.

On a 1000-executor cluster the only knobs that change are
``spark.sql.shuffle.partitions`` (≈2-3× total cores) and executor memory;
nothing in the engine hard-codes a partition count.

Codegen cache: Spark compiles each distinct generated class with Janino
and keeps it in an LRU cache of 100 classes by default (``get_spark``
sets its size). The engine's working set is far larger: the 11 operations
of perfbench's ``registry_mix`` compile 455 distinct classes, and one
``all_queries()`` pass at sf0.001 compiles 4,120. At 100 entries a
repeated ``registry_mix`` pass compiles 348-367 classes again (about 4 s
of Janino, then HotSpot JIT-compiles the new classes again); at
``CODEGEN_CACHE_ENTRIES`` = 8192 it compiles 14-22, the few queries whose
generated code differs on every call. So a query repeated within one
session reuses its compiled classes; plans, jobs and outputs are
unchanged. The conf is static: it applies only when ``get_spark`` creates
the JVM's first session (``getOrCreate`` on an existing session keeps
that session's value). Measured cost on ``registry_mix`` (4 cores):
metaspace 170 MB against 173 MB at the default, and no measurable change
in peak RSS (median 1,689 MB against 1,653 MB over 10 runs each, ranges
overlapping).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
# local[N]: SPARK_GRAFT_CPUS when set, else the CPUs this process may run on
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
# Janino class cache size: one all_queries() pass at sf0.001 compiled
# 4,120 distinct classes, the registry_mix operations 455 (see module doc).
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "punta_fina_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession with scale-aware defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata parquet carries TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert in the reader layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
