"""Batch-harness and skew-operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_process_dataframe_contract_and_report(spark):
    import pandas as pd

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("g"))

    def double_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": pdf["id"], "doubled": pdf["id"] * 2})

    result, report = process_dataframe(df, double_ids, "double_ids", "id long, doubled long")
    assert report.total_rows_in == 1000
    assert report.total_rows_out == 1000
    assert report.n_batches >= 1
    assert report.job_name == "double_ids"
    # result is a reusable lazy DataFrame
    assert result.filter(F.col("doubled") == F.col("id") * 2).count() == 1000


def test_process_dataframe_per_batch_retry(spark, tmp_path):
    """Reference parity (core/batch_processor.py:182-199): a transiently
    failing callable succeeds under retries= without failing the Spark
    task; the retry count surfaces in the report; with retries=0 the
    same failure escalates."""
    import pandas as pd
    import pytest

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    marker = tmp_path / "transient_ok"
    mpath = str(marker)

    def flaky(pdf: pd.DataFrame) -> pd.DataFrame:
        import os

        if not os.path.exists(mpath):
            with open(mpath, "w") as fh:
                fh.write("x")
            raise RuntimeError("transient")
        return pd.DataFrame({"id": pdf["id"]})

    df = spark.range(100).coalesce(1)
    result, report = process_dataframe(
        df, flaky, "flaky", "id long", retries=2, retry_delay=0.05
    )
    assert report.total_rows_out == 100
    assert report.extra["batch_retries"] >= 1

    marker.unlink()
    with pytest.raises(Exception):
        process_dataframe(df, flaky, "flaky0", "id long", retries=0)


def test_process_dataframe_job_timeout(spark):
    """timeout= cancels the materializing job group once the wall clock
    passes the deadline (Spark's per-job form of the reference's chunk
    timeout) and raises TimeoutError promptly, not after the callable
    would have finished."""
    import time as _time

    import pandas as pd
    import pytest

    from data_warehouse_punta_fina_spark.batch import process_dataframe

    def slow(pdf: pd.DataFrame) -> pd.DataFrame:
        _time.sleep(60)
        return pdf

    df = spark.range(8).coalesce(1)
    t0 = _time.time()
    with pytest.raises(TimeoutError):
        process_dataframe(df, slow, "slow", "id long", timeout=3.0)
    assert _time.time() - t0 < 45  # cancelled, not waited out


def test_salted_agg_equals_direct(spark, sf_dir):
    from data_warehouse_punta_fina_spark.functions.money import pround2
    from data_warehouse_punta_fina_spark.operators.skew import salted_agg
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {"sum_qty": ("sum", pround2("l_quantity")), "n": ("count", F.lit(1)), "mx": ("max", F.col("l_partkey"))},
        buckets=8,
    )
    direct = li.groupBy("l_returnflag").agg(
        F.sum(pround2("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.max("l_partkey").alias("mx"),
    )
    s = {r["l_returnflag"]: (r["sum_qty"], r["n"], r["mx"]) for r in salted.collect()}
    d = {r["l_returnflag"]: (r["sum_qty"], r["n"], r["mx"]) for r in direct.collect()}
    assert s == d


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    from data_warehouse_punta_fina_spark.operators.skew import salted_agg

    df = spark.range(10)
    with pytest.raises(ValueError):
        salted_agg(df, [], {"bad": ("avg", F.col("id"))})
