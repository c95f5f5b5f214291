"""The engine session keeps a repeated query's generated code compiled,
sizes ``local[N]`` to the host when ``SPARK_GRAFT_CPUS`` is unset, and
rebuilds a memoized fact identically after the session memo is reset."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_follow_the_process_affinity():
    """Without ``SPARK_GRAFT_CPUS`` the session runs one task slot per CPU
    this process may use, not a fixed count."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from data_warehouse_punta_fina_spark import session; "
            "print(session.DEFAULT_CPUS)",
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == str(len(os.sched_getaffinity(0)))


def _compile_count(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_query_reuses_its_compiled_classes(spark):
    """Spark's default codegen cache holds 100 classes. After 150 distinct
    projections (each literal is inlined into its own generated class) the
    first one's classes would be evicted and compiled again by Janino."""

    def run(i: int) -> list:
        return spark.range(4).selectExpr(f"id * {i} AS x").collect()

    for i in range(150):
        assert [r.x for r in run(i)] == [0, i, 2 * i, 3 * i]
    before = _compile_count(spark)
    assert [r.x for r in run(0)] == [0, 0, 0, 0]
    assert _compile_count(spark) == before


def test_reset_session_memo_rebuilds_identically(spark, sf_dir):
    """bench.py times the flagship min-of-2 via reset_session_memo(): the
    reset must empty the memo AND a rebuilt fact must be row-identical to
    the first build (determinism of the whole dataflow, not just the
    cache)."""
    import __spark_entry__ as entrymod
    from data_warehouse_punta_fina_spark.registry import star

    q = entrymod.all_queries()["fact_ventas"]
    first = {(r["venta_id"]): (r["total"], r["cliente_id"]) for r in q(spark, sf_dir).collect()}
    assert len(star._DIM_MEMO) > 0
    entrymod.reset_session_memo()
    assert star._DIM_MEMO == {}
    second = {(r["venta_id"]): (r["total"], r["cliente_id"]) for r in q(spark, sf_dir).collect()}
    assert first == second
