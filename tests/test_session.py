"""The engine session keeps a repeated query's generated code compiled."""

from __future__ import annotations


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
