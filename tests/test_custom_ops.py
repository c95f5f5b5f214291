"""Tests for the custom operators beyond the reference's surface:
as-of join, sessionization, reconciliation, set-op symmetry."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    from data_warehouse_punta_fina_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "u1", datetime.date(2024, 1, 10)),
            (2, "u1", datetime.date(2024, 1, 5)),   # exactly on a right row
            (3, "u1", datetime.date(2024, 1, 1)),   # before any right row
            (4, "u2", datetime.date(2024, 1, 10)),  # key with no right rows
        ],
        "id int, k string, t date",
    )
    right = spark.createDataFrame(
        [("u1", datetime.date(2024, 1, 5)), ("u1", datetime.date(2024, 1, 8))],
        "k string, rt date",
    )
    out = {r["id"]: r["asof_time"] for r in asof_join(left, right, "k", "k", "t", "rt").collect()}
    assert out[1] == datetime.date(2024, 1, 8)
    assert out[2] == datetime.date(2024, 1, 5)  # inclusive
    assert out[3] is None
    assert out[4] is None
    assert len(out) == 4  # left rows preserved


def test_sessionize_gap_boundaries(spark):
    from data_warehouse_punta_fina_spark.operators.asof import sessionize

    rows = [
        (1, "u", _ts("2024-01-01 10:00:00")),
        (2, "u", _ts("2024-01-01 10:30:00")),   # same session (gap 30min < 1h)
        (3, "u", _ts("2024-01-01 12:00:00")),   # new session (gap 1.5h)
        (4, "v", _ts("2024-01-01 10:00:00")),   # separate key
    ]
    df = spark.createDataFrame(rows, "event_id int, k string, ts timestamp")
    out = {r["event_id"]: r for r in sessionize(df, "k", "ts", gap_seconds=3600, order_tiebreak=["event_id"]).collect()}
    assert out[1]["session_seq"] == 1 and out[2]["session_seq"] == 1
    assert out[3]["session_seq"] == 2
    assert out[4]["session_seq"] == 1
    assert out[2]["session_start"] == _ts("2024-01-01 10:00:00")
    assert out[3]["session_start"] == _ts("2024-01-01 12:00:00")


def test_reconcile_full_outer_priority(spark):
    from data_warehouse_punta_fina_spark.operators.reconcile import reconcile_full_outer

    a = spark.createDataFrame([(1, 100.0), (2, 200.0)], "k int, v double")
    b = spark.createDataFrame([(2, 999.0), (3, 300.0)], "k int, v double")
    out = {r["k"]: r for r in reconcile_full_outer(a, b, ["k"], ["v"]).collect()}
    assert out[1]["presence"] == "left_only" and out[1]["v"] == 100.0 and out[1]["v_match"] is None
    assert out[2]["presence"] == "both" and out[2]["v"] == 200.0  # priority: primary
    assert out[2]["v_match"] is False
    assert out[3]["presence"] == "right_only" and out[3]["v"] == 300.0


def test_symmetry_counts(spark):
    from data_warehouse_punta_fina_spark.operators.reconcile import symmetry_counts

    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(3,), (4,)], "k int")
    out = {r["side"]: r["n"] for r in symmetry_counts(a, b, ["k"]).collect()}
    assert out == {"left_only": 2, "right_only": 1, "common": 1}


def test_sources_roundtrip(spark, tmp_path):
    from data_warehouse_punta_fina_spark.sources.readers import read_csv, read_parquet
    from data_warehouse_punta_fina_spark.sources.writers import write_csv, write_parquet

    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id int, s string, v double")
    pq = str(tmp_path / "pq")
    write_parquet(df, pq)
    assert read_parquet(spark, pq).count() == 2

    csv = str(tmp_path / "csv")
    write_csv(df, csv)
    back = read_csv(spark, csv, schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}

    # partitioned parquet: partition pruning path exists; read_parquet
    # types integer partition directories only, and names any other column
    pq2 = str(tmp_path / "pq2")
    write_parquet(df, pq2, partition_by=["id"])
    pruned = read_parquet(spark, pq2).filter(F.col("id") == 1)
    assert pruned.count() == 1
    pq3 = str(tmp_path / "pq3")
    write_parquet(df, pq3, partition_by=["s"])
    with pytest.raises(ValueError, match="column 's'"):
        read_parquet(spark, pq3)


def test_jsonl_roundtrip_and_corrupt_line(spark, tmp_path):
    """JSONL source/sink: gzip'd write round-trips exactly under an
    explicit schema; a malformed line surfaces in _corrupt_record
    (PERMISSIVE) instead of failing the job."""
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.sources.readers import read_jsonl
    from data_warehouse_punta_fina_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "hola", 1.5), (2, "adiós", 2.5)], "id int, s string, v double"
    )
    path = str(tmp_path / "jl")
    write_jsonl(df, path)
    import glob as _glob

    assert _glob.glob(path + "/*.gz"), "expected gzip'd part files"
    back = read_jsonl(spark, path, schema=df.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}

    # corrupt-line tolerance
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "part.jsonl").write_text('{"id": 1, "s": "ok", "v": 1.0}\nnot json at all\n')
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    got = read_jsonl(spark, str(raw), schema=schema).cache()
    assert got.count() == 2
    assert got.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    got.unpersist()


def test_scd2_merge_versions(spark):
    from data_warehouse_punta_fina_spark.operators.scd import scd2_merge

    current = spark.createDataFrame(
        [
            (1, "A", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True),
            (2, "B", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True),
            # key 3 already has history: one closed + one current row
            (3, "old", datetime.date(2019, 1, 1), datetime.date(2020, 1, 1), False),
            (3, "C", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True),
        ],
        "k int, attr string, valid_from date, valid_to date, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "A2"), (2, "B"), (4, "D")], "k int, attr string"
    )  # 1 changes, 2 unchanged, 4 brand new
    out = scd2_merge(current, updates, "k", ["attr"], F.to_date(F.lit("2024-06-01")))
    rows = {(r["k"], r["attr"], r["is_current"]): r for r in out.collect()}
    assert out.count() == 6
    # key 1: closed old + new current version
    assert rows[(1, "A", False)]["valid_to"] == datetime.date(2024, 6, 1)
    assert rows[(1, "A2", True)]["valid_from"] == datetime.date(2024, 6, 1)
    # key 2 unchanged, key 3 history + current preserved, key 4 new
    assert (2, "B", True) in rows and (3, "old", False) in rows and (3, "C", True) in rows
    assert rows[(4, "D", True)]["valid_from"] == datetime.date(2024, 6, 1)


def test_bucketed_write_avoids_join_shuffle(spark, tmp_path):
    from data_warehouse_punta_fina_spark.sources.writers import write_bucketed

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    write_bucketed(a, "bucketed_a", ["k"], n_buckets=4, path=str(tmp_path / "ba"))
    write_bucketed(b, "bucketed_b", ["k"], n_buckets=4, path=str(tmp_path / "bb"))
    ta = spark.table("bucketed_a")
    tb = spark.table("bucketed_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ta.join(tb, "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located buckets: the join runs with ZERO exchanges
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bucketed_a")
        spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_generated_sources(spark):
    from data_warehouse_punta_fina_spark.sources.generators import (
        date_range_source,
        literal_table,
        monthly_periods,
    )

    assert date_range_source(spark, "2024-01-01", "2024-01-31").count() == 31
    mp = monthly_periods(spark, "2024-01-01", "2024-03-31").collect()
    assert [r["periodo_id"] for r in sorted(mp, key=lambda r: r["periodo_id"])] == [202401, 202402, 202403]
    lt = literal_table(spark, [(1,), (2,)], "a int")
    assert lt.count() == 2


def test_literal_table_matches_create_dataframe_as_local_relation(spark):
    """literal_table returns what createDataFrame(rows, ddl) returns —
    same rows, same schema, same type strictness — but as a
    LocalTableScan: no Python-fed scan to read it."""
    from decimal import Decimal

    import pytest as _pytest
    from pyspark.errors import PySparkTypeError

    from data_warehouse_punta_fina_spark.sources.generators import literal_table

    ddl = "i int, b bigint, s string, d decimal(15,2), f boolean, x double"
    cases = [
        [(1, 2**40, "Almacén", None, True, 1.5)],
        [(-7, -1, None, Decimal("1234567890123.45"), False, -0.25)],
        [],
    ]
    for rows in cases:
        got = literal_table(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert plan.lstrip().startswith("LocalTableScan"), plan
        assert "ExistingRDD" not in plan
    bad = [(1, 1, "a", 1.5, True, 1.0)]
    with _pytest.raises(PySparkTypeError):
        spark.createDataFrame(bad, ddl)
    with _pytest.raises(PySparkTypeError):
        literal_table(spark, bad, ddl)


def test_write_excel_guards(spark, tmp_path):
    """S15: the xlsx export enforces its sheet-size contract BEFORE any
    driver materialization, and gates cleanly on the missing codec lib."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources import writers

    small = spark.range(10).select(F.col("id"))
    try:
        import openpyxl  # noqa: F401

        writers.write_excel(small, str(tmp_path / "out.xlsx"))
        assert (tmp_path / "out.xlsx").exists()
    except ImportError:
        with _pytest.raises(NotImplementedError, match="openpyxl"):
            writers.write_excel(small, str(tmp_path / "out.xlsx"))

    too_big = spark.range(writers.EXCEL_MAX_ROWS + 1)
    with _pytest.raises(ValueError, match="cap"):
        writers.write_excel(too_big, str(tmp_path / "big.xlsx"))


def test_write_excel_workbook(spark, tmp_path):
    """S15 parity with the reference's one-workbook export
    (exportar_dimensiones_excel.py:25-171): several dims + a summary
    sheet land in ONE xlsx; guards fire before any sheet is fetched."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources import writers

    sheets = {
        "dim_a": spark.range(5).select(F.col("id").alias("sk")),
        "dim_b": spark.range(3).select(F.col("id").alias("sk")),
        "dim_c": spark.range(2).select(F.col("id").alias("sk")),
        "resumen": spark.createDataFrame(
            [("dim_a", 5), ("dim_b", 3), ("dim_c", 2)], "tabla string, filas int"
        ),
    }
    path = str(tmp_path / "warehouse.xlsx")
    try:
        import openpyxl

        writers.write_excel_workbook(sheets, path)
        wb = openpyxl.load_workbook(path)
        assert wb.sheetnames == ["dim_a", "dim_b", "dim_c", "resumen"]
        assert wb["dim_b"].max_row == 4  # header + 3 rows
    except ImportError:
        with _pytest.raises(NotImplementedError, match="openpyxl"):
            writers.write_excel_workbook(sheets, path)

    # guards: empty mapping, over-limit sheet (validated before fetch),
    # 31-char truncation collision
    with _pytest.raises(ValueError, match="at least one"):
        writers.write_excel_workbook({}, path)
    with _pytest.raises(ValueError, match="over-limit"):
        writers.write_excel_workbook(
            {"ok": sheets["dim_a"], "big": spark.range(writers.EXCEL_MAX_ROWS + 1)}, path
        )
    long_a = "x" * 31 + "a"
    long_b = "x" * 31 + "b"
    with _pytest.raises(ValueError, match="collision"):
        writers.write_excel_workbook({long_a: sheets["dim_a"], long_b: sheets["dim_b"]}, path)


def test_random_projection_preserves_distances_and_is_deterministic(spark):
    """JL with ±1 (Achlioptas) directions: projected pairwise distance
    ratios concentrate around sqrt(out/in) of the originals; signs derive
    from md5 so two runs (any partitioning) are bit-identical."""
    import math
    import random

    from data_warehouse_punta_fina_spark.operators.similarity import random_projection

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = random_projection(emb, out_dims=16, in_dims=64)
    got = {(r["vec_id"], r["out_dim"]): r["value"] for r in out.collect()}
    assert len(got) == 30 * 16
    # determinism under adversarial partitioning
    again = {
        (r["vec_id"], r["out_dim"]): r["value"]
        for r in random_projection(emb.repartition(11), out_dims=16, in_dims=64).collect()
    }
    assert got == again

    vecs = {i: v for i, v in rows}
    proj = {i: [got[(i, k)] for k in range(16)] for i in range(30)}

    def dist(a, b):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))

    # E[||Px - Py||²] = out_dims · ||x - y||² for ±1 entries; with 16 dims
    # individual ratios fluctuate, so check the MEDIAN ratio within ±40%
    ratios = []
    for a in range(0, 30, 3):
        for b in range(a + 1, 30, 7):
            d0 = dist(vecs[a], vecs[b])
            d1 = dist(proj[a], proj[b])
            if d0 > 0:
                ratios.append(d1 / (d0 * math.sqrt(16)))
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.6 < med < 1.4, med


def test_read_jsonl_tolerant_quarantines_bad_lines(spark, tmp_path):
    """The quarantine split: good rows come back clean (no corrupt
    column), bad raw lines land in the quarantine frame verbatim."""
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.sources.readers import read_jsonl_tolerant

    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.jsonl").write_text(
        '{"id": 1, "s": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "s": "also ok"}\n'
        '{"id": broken\n'
    )
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("s", T.StringType())]
    )
    good, bad = read_jsonl_tolerant(spark, str(raw), schema)
    assert good.columns == ["id", "s"]
    assert {(r["id"], r["s"]) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
    lines = {r["raw_line"] for r in bad.collect()}
    assert lines == {"this is not json", '{"id": broken'}


def test_chunk_documents_windows_and_edges(spark):
    """Overlap windows advance by the stride, keep the tail, skip empty
    docs, and reject a non-advancing overlap."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.packing import chunk_documents

    rows = [
        (1, "a b c d e f g h i j"),  # 10 tokens
        (2, "x y"),
        (3, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"]) for r in out}
    # doc 1: starts 0,2,4,6,8 -> 5 chunks; tail chunk has 2 tokens
    assert [got[(1, k)][0] for k in range(5)] == [
        "a b c d", "c d e f", "e f g h", "g h i j", "i j",
    ]
    assert got[(1, 4)][1] == 2
    assert got[(2, 0)] == ("x y", 2)
    assert not any(d == 3 for d, _ in got)  # empty doc: no chunks
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_funnel_progress_and_retention_cohorts(spark):
    """Hand-built sequences: strict ordering (a click BEFORE the first
    view does not count), the within-window cutoff, and the cohort
    triangle offsets."""
    from data_warehouse_punta_fina_spark.operators.behavior import (
        funnel_progress,
        retention_cohorts,
    )

    def ev(uid, typ, day, hour=0):
        return (uid, typ, datetime.datetime(2024, 1, day, hour))

    rows = [
        # user 1: full ordered funnel
        ev(1, "view", 1), ev(1, "click", 2), ev(1, "purchase", 3),
        # user 2: click precedes the first view -> stuck at level 1
        ev(2, "click", 1), ev(2, "view", 2),
        # user 3: never views -> not in the funnel at all
        ev(3, "purchase", 1),
        # user 4: clicks only after the 24h window -> level 1 when windowed
        ev(4, "view", 1), ev(4, "click", 4),
    ]
    events = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
    prog = {
        r["user_id"]: r["steps_completed"]
        for r in funnel_progress(events, ["view", "click", "purchase"]).collect()
    }
    assert prog == {1: 3, 2: 1, 4: 2}
    windowed = {
        r["user_id"]: r["steps_completed"]
        for r in funnel_progress(
            events, ["view", "click", "purchase"], within_seconds=86400
        ).collect()
    }
    assert windowed == {1: 2, 2: 1, 4: 1}  # user 1's purchase is 48h out

    # retention: users 1-4 first seen in week of Jan 1; user 4 active
    # again in the week of Jan 4? (same ISO week) -> build a second week
    rows2 = rows + [ev(1, "view", 10), ev(2, "view", 17)]
    events2 = spark.createDataFrame(rows2, "user_id int, event_type string, ts timestamp")
    grid = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in retention_cohorts(events2).collect()
    }
    # ISO week of 2024-01-01 starts Mon Jan 1
    assert grid[("2024-01-01", 0)] == 4
    assert grid[("2024-01-01", 1)] == 1  # user 1 back in week Jan 8
    assert grid[("2024-01-01", 2)] == 1  # user 2 back in week Jan 15


def test_gap_fill_locf_carries_and_leading_nulls(spark):
    """Missing days take the prior value; days before a key's first
    observation stay null; explicit bounds extend the spine."""
    from data_warehouse_punta_fina_spark.operators.asof import gap_fill_locf

    rows = [
        (1, datetime.date(2024, 1, 1), 10.0),
        (1, datetime.date(2024, 1, 4), 40.0),
        (2, datetime.date(2024, 1, 3), 99.0),
    ]
    df = spark.createDataFrame(rows, "k int, d date, v double")
    out = gap_fill_locf(df, "k", "d", ["v"])
    got = {(r["k"], str(r["d"])): r["v"] for r in out.collect()}
    # spine spans the frame's own min..max (Jan 1-4), both keys
    assert len(got) == 8
    assert got[(1, "2024-01-02")] == 10.0 and got[(1, "2024-01-03")] == 10.0
    assert got[(1, "2024-01-04")] == 40.0
    assert got[(2, "2024-01-01")] is None and got[(2, "2024-01-02")] is None
    assert got[(2, "2024-01-04")] == 99.0
    # explicit bounds
    wide = gap_fill_locf(df, "k", "d", ["v"], start="2024-01-01", end="2024-01-06")
    assert wide.count() == 12


def test_robust_outliers_median_mad(spark):
    """Known values: median 10, MAD 1 -> score = 0.6745*|x-10|; the 100
    point is a screaming outlier, the mean/stddev would have been
    poisoned by it; a degenerate group (MAD=0) flags nothing but is
    marked."""
    from data_warehouse_punta_fina_spark.operators.quality import robust_outliers

    rows = [("a", float(v)) for v in [8, 9, 10, 10, 10, 11, 12, 100]] + [
        ("b", 5.0), ("b", 5.0), ("b", 5.0), ("b", 99.0)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_outliers(df, "v", ["g"], z=3.5).collect()
    a = [r for r in out if r["g"] == "a"]
    assert sum(r["is_outlier"] for r in a) == 1
    top = max(a, key=lambda r: r["score"])
    assert top["v"] == 100.0 and top["score"] > 50
    assert not any(r["is_mad_degenerate"] for r in a)
    # group b: >=half identical -> MAD 0 -> degenerate, nothing flagged
    b = [r for r in out if r["g"] == "b"]
    assert all(r["is_mad_degenerate"] for r in b)
    assert not any(r["is_outlier"] for r in b)


def test_profile_table_and_benford(spark):
    """Profiler counts nulls/distincts per column in ONE aggregate pass;
    Benford flags a fabricated uniform-first-digit column while organic
    log-spread magnitudes fit the law."""
    from data_warehouse_punta_fina_spark.operators.validation import (
        benford_deviation,
        profile_table,
    )

    rows = [(1, "a", None), (2, "b", 5.0), (3, "b", 7.0), (4, None, 9.0)]
    df = spark.createDataFrame(rows, "k int, s string, v double")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["k"]["n"] == 4 and prof["k"]["n_null"] == 0
    assert prof["s"]["n_null"] == 1 and prof["s"]["n_distinct"] == 2
    assert prof["v"]["n_null"] == 1 and prof["v"]["min_str"] == "5.0"
    assert prof["k"]["dtype"] == "int"

    # organic: exponentially spread magnitudes ~ Benford; fabricated:
    # every value starts with 9
    import math

    organic = [(math.exp(i / 7.0),) for i in range(1, 200)]
    fabricated = [(9000.0 + i,) for i in range(199)]
    o = benford_deviation(spark.createDataFrame(organic, "v double"), "v")
    f = benford_deviation(spark.createDataFrame(fabricated, "v double"), "v")
    o_max = max(r["abs_dev"] for r in o.collect())
    f_max = max(r["abs_dev"] for r in f.collect())
    assert o_max < 0.05
    assert f_max > 0.8  # all mass on digit 9 vs expected 0.0458
    # zero/null rows carry no magnitude
    z = benford_deviation(
        spark.createDataFrame([(0.0,), (None,), (12.0,)], "v double"), "v"
    ).collect()
    assert len(z) == 1 and z[0]["n_obs"] == 1 and z[0]["digit"] == 1


def test_incremental_agg_merge_equals_full_recompute(spark):
    """Merge(agg(history), delta) == agg(history ∪ delta) bit-for-bit on
    decimal measures, across three successive deltas including brand-new
    and untouched keys."""
    from decimal import Decimal

    from data_warehouse_punta_fina_spark.operators.incremental import (
        aggregate_delta,
        incremental_agg_merge,
    )

    def mk(rows):
        return spark.createDataFrame(
            [(k, Decimal(v)) for k, v in rows], "k string, amt decimal(15,2)"
        )

    history = mk([("a", "10.25"), ("a", "0.75"), ("b", "5.00")])
    agg = aggregate_delta(history, ["k"], ["amt"])
    seen = history
    for delta_rows in (
        [("a", "1.11"), ("c", "99.99")],   # update + brand-new key
        [("b", "-5.00")],                  # negative delta
        [("d", "0.01"), ("d", "0.02")],
    ):
        delta = mk(delta_rows)
        agg = incremental_agg_merge(agg, delta, ["k"], ["amt"])
        seen = seen.unionByName(delta)
        full = aggregate_delta(seen, ["k"], ["amt"])
        got = sorted(map(tuple, agg.collect()))
        want = sorted(map(tuple, full.collect()))
        assert got == want, (got, want)
    final = {r["k"]: (r["amt"], r["n"]) for r in agg.collect()}
    assert final["a"] == (Decimal("12.11"), 3)
    assert final["b"] == (Decimal("0.00"), 2)
    assert final["d"] == (Decimal("0.03"), 2)


def test_funnel_progress_four_steps(spark):
    """Step count is generic: a 4-step funnel where each user stalls one
    step further than the last."""
    from data_warehouse_punta_fina_spark.operators.behavior import funnel_progress

    def ev(uid, typ, day):
        return (uid, typ, datetime.datetime(2024, 1, day))

    steps = ["s1", "s2", "s3", "s4"]
    rows = []
    for uid in range(1, 5):
        for k in range(uid):  # user u completes u steps in order
            rows.append(ev(uid, steps[k], k + 1))
    events = spark.createDataFrame(rows, "user_id int, event_type string, ts timestamp")
    got = {
        r["user_id"]: r["steps_completed"]
        for r in funnel_progress(events, steps).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


def test_read_csv_tolerant_quarantines_bad_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.sources.readers import read_csv_tolerant

    raw = tmp_path / "csv"
    raw.mkdir()
    (raw / "a.csv").write_text(
        "id,qty\n"
        "1,10\n"
        "2,notanumber\n"
        "3,30\n"
    )
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("qty", T.IntegerType())]
    )
    good, bad = read_csv_tolerant(spark, str(raw), schema)
    assert {(r["id"], r["qty"]) for r in good.collect()} == {(1, 10), (3, 30)}
    assert [r["raw_line"] for r in bad.collect()] == ["2,notanumber"]


def test_txtable_acid_time_travel_and_merge(spark, tmp_path):
    """The mini transaction log: atomic versioned commits, snapshot
    reads with time travel, MERGE-style upsert, OPTIMIZE compaction,
    conflict retry, and an empty-after-overwrite table that still
    carries its schema."""
    import glob
    import json
    import os

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    v0 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v1 = t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    assert (v0, v1) == (0, 1)
    assert rows(t.read()) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel
    assert rows(t.read(version=0)) == [(1, "a"), (2, "b")]

    # MERGE: update k=2, insert k=4
    t.upsert(spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), ["k"])
    assert rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    # pre-merge snapshot unchanged
    assert rows(t.read(version=1)) == [(1, "a"), (2, "b"), (3, "c")]

    # OPTIMIZE: same content, one file
    v_compact = t.compact(n_files=1)
    assert rows(t.read()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    entry = t.history()[-1]
    assert entry["version"] == v_compact and len(entry["files"]) == 1

    # conflict: a racing writer grabs the next version; append retries
    schema_json = t.history()[-1]["schema"]
    nxt = max(v["version"] for v in t.history()) + 1
    with open(os.path.join(t.log_dir, f"{nxt:08d}.json"), "x") as fh:
        json.dump({"version": nxt, "action": "append", "files": [],
                   "schema": schema_json}, fh)
    v_after = t.append(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert v_after == nxt + 1  # lost the race once, committed next slot
    assert (9, "z") in rows(t.read())

    # overwrite to empty: schema survives
    empty = spark.createDataFrame([], "k int, v string")
    t.overwrite(empty)
    got = t.read()
    assert got.count() == 0 and [f.name for f in got.schema.fields] == ["k", "v"]
    # history is complete and strictly versioned
    hv = [e["version"] for e in t.history()]
    assert hv == sorted(hv) and len(hv) == len(set(hv))


def test_txtable_scd2_commit_time_travels_dimension_history(spark, tmp_path):
    """SCD2 merge as a TxTable transition: version N-1 still shows the
    pre-merge dimension; version N carries the closed + new rows."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "dim"))
    base = spark.createDataFrame(
        [
            (1, "gold", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True),
            (2, "silver", datetime.date(2020, 1, 1), datetime.date(9999, 12, 31), True),
        ],
        "k int, tier string, valid_from date, valid_to date, is_current boolean",
    )
    v0 = t.append(base)
    t.scd2_commit(
        spark.createDataFrame([(1, "platinum"), (3, "bronze")], "k int, tier string"),
        key="k",
        tracked=["tier"],
        effective_date=F.lit("2024-06-01").cast("date"),
    )
    now = {(r["k"], r["tier"], r["is_current"]) for r in t.read().collect()}
    assert (1, "gold", False) in now       # closed version
    assert (1, "platinum", True) in now    # new version
    assert (2, "silver", True) in now      # untouched passes through
    assert (3, "bronze", True) in now      # new member
    # time travel: the pre-merge dimension is intact at v0
    before = {(r["k"], r["tier"], r["is_current"]) for r in t.read(version=v0).collect()}
    assert before == {(1, "gold", True), (2, "silver", True)}


def test_txtable_vacuum_retention_and_horizon(spark, tmp_path):
    """VACUUM deletes files unreferenced by the retained snapshots and
    raises the time-travel horizon loudly (no missing-file crash)."""
    import glob

    import pytest

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))     # v0
    t.append(spark.createDataFrame([(2, "b")], "k int, v string"))     # v1
    t.overwrite(spark.createDataFrame([(3, "c")], "k int, v string"))  # v2
    n_before = len(glob.glob(f"{t.data_dir}/*/*.parquet"))
    assert n_before == 3 * 32 or n_before >= 3  # one commit dir per write

    t.vacuum(retain_versions=1)
    # only the current snapshot's files survive physically
    survivors = glob.glob(f"{t.data_dir}/*/*.parquet")
    assert survivors and len(survivors) < n_before
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [(3, "c")]
    # pre-horizon time travel fails LOUDLY
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)
    # the table remains fully writable after a vacuum
    t.append(spark.createDataFrame([(4, "d")], "k int, v string"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [(3, "c"), (4, "d")]


def test_txtable_delete_where_rewrites_only_hit_files(spark, tmp_path):
    """DELETE is copy-on-write with file-level pruning: the commit after
    a targeted delete re-references every untouched file verbatim and
    rewrites only files containing matches; NULL-condition rows are kept
    (SQL DELETE); pre-delete snapshots still time-travel; vacuum then
    physically drops the forgotten bytes; RESTORE re-references an old
    snapshot as a new auditable commit."""
    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))

    def rows(df):
        return sorted(((r["user"], r["v"]) for r in df.collect()),
                      key=lambda x: (x[0] is None, x[0] or 0, x[1]))

    # two commits -> two disjoint file sets
    t.append(spark.createDataFrame([(1, "a"), (1, "b")], "user int, v string").coalesce(1))
    v1 = t.append(
        spark.createDataFrame([(2, "c"), (None, "n")], "user int, v string").coalesce(1)
    )
    files_before = set(t.history()[0]["files"])  # commit 0's file(s)
    assert len(files_before) == 1

    # forget user 2: only commit 1's file contains a match
    v_del = t.delete_where(F.col("user") == 2)
    assert v_del == v1 + 1
    got = rows(t.read())
    assert got == [(1, "a"), (1, "b"), (None, "n")]  # NULL-cond row kept
    entry = t.history()[-1]
    # commit 0's file carried BY REFERENCE, commit 1's file rewritten
    assert files_before <= set(entry["files"])
    assert not any(f in set(entry["files"]) for f in t.history()[1]["files"])
    # time travel still shows the deleted row
    assert (2, "c") in rows(t.read(version=v1))

    # no-op delete burns no commit
    assert t.delete_where(F.col("user") == 999) == v_del

    # restore the pre-delete snapshot as a NEW commit
    v_restore = t.restore(v1)
    assert v_restore > v_del
    assert (2, "c") in rows(t.read())

    # delete again, vacuum: the forgotten file physically disappears
    t.delete_where("user = 2")
    import os

    t.vacuum(retain_versions=1)
    deleted_rel = t.history()[1]["files"][0]
    assert not os.path.exists(os.path.join(t.data_dir, deleted_rel))
    assert rows(t.read()) == [(1, "a"), (1, "b"), (None, "n")]


def test_txtable_data_skipping_prunes_files(spark, tmp_path):
    """Commit-time footer stats enable log-level file skipping: a range
    read opens only overlapping files, results equal the full filter,
    stat-less columns are conservatively kept, and skipping composes
    with time travel."""
    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(
        spark.createDataFrame([(i, f"a{i}") for i in range(0, 100)], "k int, v string")
        .coalesce(1)
    )
    t.append(
        spark.createDataFrame([(i, f"b{i}") for i in range(1000, 1100)], "k int, v string")
        .coalesce(1)
    )

    # stats recorded on both commits
    assert all(e.get("stats") for e in t.history())

    kept = t.files_overlapping("k", 1000, 1050)
    all_files, _, _ = t._snapshot_files(t._versions()[-1])
    assert len(kept) == 1 and len(all_files) == 2

    got = sorted(r["k"] for r in t.read_where("k", 1000, 1050).collect())
    want = sorted(
        r["k"] for r in t.read().filter(F.col("k").between(1000, 1050)).collect()
    )
    assert got == want and len(got) == 51

    # disjoint range: zero files, empty result with the right schema
    empty = t.read_where("k", 5000, 6000)
    assert empty.count() == 0 and [f.name for f in empty.schema.fields] == ["k", "v"]

    # unknown column name -> no stats recorded under it -> both files kept
    assert len(t.files_overlapping("nope", 0, 1)) == 2

    # composes with time travel: version 0 has only the low range
    assert t.files_overlapping("k", 1000, 1050, version=0) == []
    assert t.read_where("k", 0, 10, version=0).count() == 11


def test_txtable_optimize_zorder_improves_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER on the log: after the clustered rewrite, the
    commit's footer stats stop overlapping and read_where prunes to a
    fraction of the files on BOTH cluster columns; results unchanged."""
    import random

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    rng = random.Random(7)
    rows = [(rng.randrange(10000), rng.randrange(10000)) for _ in range(20000)]
    t = TxTable(spark, str(tmp_path / "tx"))
    # ingest shuffled -> every file spans nearly the full range of both cols
    t.append(spark.createDataFrame(rows, "x int, y int").repartition(8))

    def widths(version):
        # per-file (x_width, y_width) fractions from the log's footer stats
        stats = {}
        for v in t._versions():
            if v > version:
                break
            stats.update(t._entry(v).get("stats") or {})
        files, _, _ = t._snapshot_files(version)
        return [
            (
                (stats[f]["x"][1] - stats[f]["x"][0]) / 10000.0,
                (stats[f]["y"][1] - stats[f]["y"][0]) / 10000.0,
            )
            for f in files
        ]

    before = widths(t.history()[-1]["version"])
    assert len(before) == 8
    # shuffled ingest: every file spans ~the full range of both dims
    assert min(w for w, _ in before) > 0.9 and min(w for _, w in before) > 0.9
    assert len(t.files_overlapping("x", 100, 200)) == 8  # nothing prunable

    v = t.optimize_zorder(["x", "y"], n_files=8)
    assert t.history()[-1]["version"] == v
    after = widths(v)
    # morton boxes bound the dims JOINTLY: combined (x+y) extent collapses
    # from ~2.0 per file to ~the cell scale, and even a file straddling a
    # major z-boundary (full-width in one dim) stays narrow in the other.
    # Width metrics (not window-overlap counts) keep the assertion robust
    # to repartitionByRange's sampled boundaries, which jitter with
    # session history (the sampler seeds off the global RDD id counter).
    assert sum(x + y for x, y in after) / len(after) <= 1.2
    assert max(min(x, y) for x, y in after) <= 0.6
    # and the narrow-window file skip genuinely prunes on both dimensions
    assert len(t.files_overlapping("x", 100, 200)) <= 5
    assert len(t.files_overlapping("y", 100, 200)) <= 5

    got = sorted((r["x"], r["y"]) for r in t.read_where("x", 100, 200).collect())
    want = sorted((x, y) for (x, y) in rows if 100 <= x <= 200)
    assert got == want


def test_txtable_schema_enforcement_and_evolution(spark, tmp_path):
    """Delta-style enforcement: mismatched appends are rejected with the
    column diff; evolve=True admits additive columns (old files read as
    NULL); type changes raise even under evolve."""
    import pytest

    from data_warehouse_punta_fina_spark.operators.quality import schema_diff
    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))

    bad = spark.createDataFrame([(2,)], "k int")
    with pytest.raises(ValueError, match="removed"):
        t.append(bad)

    retyped = spark.createDataFrame([("x", "b")], "k string, v string")
    with pytest.raises(ValueError, match="type_changed"):
        t.append(retyped, evolve=True)

    wider = spark.createDataFrame([(3, "c", 9.5)], "k int, v string, w double")
    with pytest.raises(ValueError, match="evolve=True"):
        t.append(wider)
    t.append(wider, evolve=True)
    got = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 3: ("c", 9.5)}  # old rows NULL-project

    d = schema_diff(
        spark.createDataFrame([(1, "a")], "k int, v string"),
        wider,
    )
    assert {x["change"] for x in d} == {"added"}


def test_txtable_transition_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a snapshot transition (MERGE/DELETE)
    computed from version N refuses to commit if a foreign commit landed
    after N (lost-update protection); plain appends still rebase; the
    retried transition sees the interleaved rows."""
    import json as _json
    import os as _os

    import pytest

    from data_warehouse_punta_fina_spark.sources.txlog import CommitConflict, TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))

    # simulate an interleaved foreign append AFTER upsert reads: patch
    # _write_files to inject the race between read and commit
    orig = t._write_files
    injected = {"done": False}

    def racy_write(df):
        files = orig(df)
        if not injected["done"]:
            injected["done"] = True
            # the foreign writer lands first
            t2 = TxTable(spark, str(tmp_path / "tx"))
            t2._commit_raw(
                {"action": "append", "files": [], "schema": df.schema.json()}
            )
        return files

    t._write_files = racy_write
    with pytest.raises(CommitConflict, match="advanced"):
        t.upsert(spark.createDataFrame([(2, "B")], "k int, v string"), ["k"])
    t._write_files = orig

    # the retried transition succeeds against the new snapshot
    t.upsert(spark.createDataFrame([(2, "B")], "k int, v string"), ["k"])
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "B")]

    # appends never conflict: interleave two appends freely
    t.append(spark.createDataFrame([(9, "z")], "k int, v string"))
    assert (9, "z") in {(r["k"], r["v"]) for r in t.read().collect()}


def test_txtable_update_where_copy_on_write(spark, tmp_path):
    """UPDATE SET WHERE: assignments see the OLD row (column swap works),
    untouched files carry by reference, NULL-condition rows untouched,
    unknown target columns raise, no-match burns no commit."""
    import pytest

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, 10, 100)], "k int, a int, b int").coalesce(1))
    v1 = t.append(
        spark.createDataFrame([(2, 20, 200), (None, 5, 50)], "k int, a int, b int").coalesce(1)
    )

    v = t.update_where(F.col("k") == 2, {"a": F.col("b"), "b": F.col("a")})
    assert v == v1 + 1
    got = {r["k"]: (r["a"], r["b"]) for r in t.read().collect()}
    assert got == {1: (10, 100), 2: (200, 20), None: (5, 50)}  # swap; NULL row kept
    # commit 0's file carried by reference
    assert set(t.history()[0]["files"]) <= set(t.history()[-1]["files"])

    # SQL-string forms for both condition and assignment
    t.update_where("k = 1", {"a": "a + 1"})
    assert {r["k"]: r["a"] for r in t.read().collect()}[1] == 11

    assert t.update_where(F.col("k") == 99, {"a": F.lit(0)}) == t._versions()[-1]
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("k = 1", {"nope": F.lit(1)})


def test_triangle_counts_known_graph(spark):
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, every node in 3) plus a pendant 5-1
    # and a duplicate/reversed/self-loop noise edge set
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (2, 1),          # reversed duplicate
            (3, 3),          # self loop
            (5, 1),          # pendant
        ],
        "src long, dst long",
    )
    rows = {r["node"]: r for r in triangle_counts(edges).collect()}
    assert rows[5]["degree"] == 1 and rows[5]["triangles"] == 0
    assert rows[5]["clustering"] is None  # undefined below degree 2
    for n in (2, 3, 4):
        assert rows[n]["degree"] == 3 and rows[n]["triangles"] == 3
        assert rows[n]["clustering"] == 1.0
    # node 1 has degree 4 (K4 + pendant): 3 triangles of 6 possible pairs
    assert rows[1]["degree"] == 4 and rows[1]["triangles"] == 3
    assert rows[1]["clustering"] == 0.5
    # global triangle count: each triangle counted once per 3 nodes
    total = triangle_counts(edges).agg(F.sum("triangles")).collect()[0][0]
    assert total == 12  # 4 triangles x 3 corners


def test_key_skew_report_known_distribution(spark):
    from data_warehouse_punta_fina_spark.operators.skew import key_skew_report

    # 100 rows of 'hot', 10 of 'warm', 1 each of 10 cold keys
    rows = (
        [("hot",)] * 100 + [("warm",)] * 10 + [(f"cold{i}",) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "k string")
    out = {r["rank"]: r for r in key_skew_report(df, "k", top_k=3).collect()}
    assert len(out) == 3
    r1, r2, r3 = out[1], out[2], out[3]
    assert (r1["key"], r1["n"]) == ("hot", 100)
    assert (r2["key"], r2["n"]) == ("warm", 10)
    assert (r3["key"], r3["n"]) == ("cold0", 1)  # ties break on key asc
    assert r1["total_rows"] == 120 and r1["n_keys"] == 12
    assert r1["share"] == round(100 / 120, 6) or abs(r1["share"] - 100 / 120) < 1e-6
    assert abs(r2["cum_share"] - 110 / 120) < 1e-6
    assert r1["max_per_key"] == 100
    # mean = 10 → skew_ratio = 10
    assert r1["mean_per_key"] == 10.0 and r1["skew_ratio"] == 10.0
    # p50 over per-key counts [100,10,1x10] = 1.0
    assert r1["p50"] == 1.0


def test_txtable_read_changes_change_data_feed(spark, tmp_path):
    """CDF on the native log: per-commit insert/delete row images derived
    from file-set + row-multiset diffs. Copy-on-write UPDATE surfaces as
    delete+insert; OPTIMIZE emits ZERO changes (rewrites preserve the row
    multiset); the range filter and vacuum horizon are respected."""
    import pytest

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v2 = t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    v3 = t.delete_where("k = 2")
    v4 = t.update_where(F.col("k") == 1, {"v": F.lit("z")})
    v5 = t.compact(2)

    ch = [
        ((r["k"], r["v"]), r["_change_type"], r["_commit_version"])
        for r in t.read_changes(0).collect()
    ]
    by_version = {}
    for row, kind, v in ch:
        by_version.setdefault(v, set()).add((row, kind))
    assert by_version[v1] == {((1, "a"), "insert"), ((2, "b"), "insert")}
    assert by_version[v2] == {((3, "c"), "insert")}
    assert by_version[v3] == {((2, "b"), "delete")}
    assert by_version[v4] == {((1, "a"), "delete"), ((1, "z"), "insert")}
    assert v5 not in by_version  # pure rewrite: zero changes

    # range filter: inclusive starting_version (Delta convention)
    later = {r["_commit_version"] for r in t.read_changes(v3).collect()}
    assert later == {v3, v4}

    # final state reconstructible from the feed: inserts minus deletes
    feed = t.read_changes(0)
    ins = feed.filter(F.col("_change_type") == "insert").select("k", "v")
    dels = feed.filter(F.col("_change_type") == "delete").select("k", "v")
    assert {tuple(r) for r in ins.exceptAll(dels).collect()} == {
        tuple(r) for r in t.read().collect()
    }

    # vacuum raises the horizon: pre-image reads below it must refuse
    t.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="horizon"):
        t.read_changes(0)


def test_asof_join_values_directions_and_tolerance(spark):
    from data_warehouse_punta_fina_spark.operators.asof import asof_join_values

    left = spark.createDataFrame(
        [
            (1, "u", _ts("2024-01-01 10:00:00")),
            (2, "u", _ts("2024-01-01 10:59:00")),
            (3, "v", _ts("2024-01-01 10:00:00")),  # key without right rows
        ],
        "id int, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 09:30:00"), 100.0),
            ("u", _ts("2024-01-01 11:00:00"), 200.0),
        ],
        "k string, rt timestamp, price double",
    )

    def run(direction, tol=None):
        return {
            r["id"]: (r["rt_asof"], r["price_asof"])
            for r in asof_join_values(
                left, right, "k", "t", "rt", ["price"], direction, tol
            ).collect()
        }

    b = run("backward")
    assert b[1] == (_ts("2024-01-01 09:30:00"), 100.0)
    assert b[2] == (_ts("2024-01-01 09:30:00"), 100.0)
    assert b[3] == (None, None)

    f = run("forward")
    assert f[1] == (_ts("2024-01-01 11:00:00"), 200.0)
    assert f[2] == (_ts("2024-01-01 11:00:00"), 200.0)

    n = run("nearest")
    assert n[1] == (_ts("2024-01-01 09:30:00"), 100.0)  # 30min back < 60min fwd
    assert n[2] == (_ts("2024-01-01 11:00:00"), 200.0)  # 1min fwd < 89min back

    # tolerance: 40min drops the far side per-direction BEFORE nearest
    nt = run("nearest", tol=2400)
    assert nt[1] == (_ts("2024-01-01 09:30:00"), 100.0)
    assert nt[2] == (_ts("2024-01-01 11:00:00"), 200.0)
    bt = run("backward", tol=600)
    assert bt[1] == (None, None)  # 30min back > 10min tolerance


def test_asof_join_values_tie_prefers_backward_and_dup_times_resolve(spark):
    from data_warehouse_punta_fina_spark.operators.asof import asof_join_values

    left = spark.createDataFrame([(1, "u", _ts("2024-01-01 10:00:00"))], "id int, k string, t timestamp")
    right = spark.createDataFrame(
        [
            ("u", _ts("2024-01-01 09:00:00"), 1.0),
            ("u", _ts("2024-01-01 11:00:00"), 2.0),
            # duplicate (key, time): max-struct survivor -> 9.0
            ("u", _ts("2024-01-01 09:00:00"), 9.0),
        ],
        "k string, rt timestamp, price double",
    )
    n = asof_join_values(left, right, "k", "t", "rt", ["price"], "nearest").collect()[0]
    # equidistant (60min both ways): backward wins
    assert n["rt_asof"] == _ts("2024-01-01 09:00:00") and n["price_asof"] == 9.0


def test_sq8_topk_with_full_rerank_equals_brute_force(spark, sf_dir):
    """With rerank >= corpus, SQ8's candidate stage cannot drop the true
    neighbors, so the exact-rerank output must equal brute force exactly
    (same ids, same cosines, same ranks). With a small rerank, every
    reported (pair, cosine) must still be an exact brute-force score —
    quantization may change WHICH candidates survive, never the score."""
    from data_warehouse_punta_fina_spark.operators.similarity import (
        brute_force_topk,
        sq8_topk,
    )
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    n = emb.count()

    brute = {
        (r["query_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
        for r in sq8_topk(emb, queries, k=5, rerank=n).collect()
    }
    assert full == brute

    small = sq8_topk(emb, queries, k=5, rerank=10).collect()
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(emb, queries, k=n - 1).collect()
    }
    for r in small:
        assert exact_all[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_txtable_concurrent_writers_serialize_without_lost_commits(spark, tmp_path):
    """ACID under contention: N threads race appends against one table;
    exclusive-create commits serialize them into N distinct versions with
    every row present exactly once (losers retry on the next version, no
    lost updates, no duplicated files)."""
    import threading

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(0, -1)], "writer int, seq int"))

    n_writers, rows_each = 6, 5
    errors: list[Exception] = []

    def writer(w: int) -> None:
        try:
            df = spark.createDataFrame(
                [(w, i) for i in range(rows_each)], "writer int, seq int"
            )
            TxTable(spark, str(tmp_path / "tx")).append(df)
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(1, n_writers + 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors

    # every commit serialized: seed + one version per writer
    assert len(t._versions()) == n_writers + 1
    got = sorted((r["writer"], r["seq"]) for r in t.read().collect())
    want = sorted([(0, -1)] + [(w, i) for w in range(1, n_writers + 1) for i in range(rows_each)])
    assert got == want


def test_txtable_commit_survives_decimal_columns(spark, tmp_path):
    """Regression: pyarrow raises ArrowNotImplementedError when casting
    decimal128 footer statistics — a decimal-columned append must still
    COMMIT (the column just carries no skip stats; other columns keep
    theirs)."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "tx"))
    df = spark.createDataFrame([(1, "3.50"), (2, "4.25")], "k int, amt string").select(
        "k", F.col("amt").cast("decimal(15,2)").alias("amt")
    )
    v = t.append(df)  # must not raise
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    stats = t._entry(v).get("stats") or {}
    per_file = next(iter(stats.values()))
    assert "k" in per_file and "amt" not in per_file


def test_curation_report_composition_all_verdicts(spark, tmp_path):
    # handcrafted corpus exercising every branch of the composed verdict:
    # exact dup (identical text, larger id drops), LSH near-dup (one word
    # changed), too-short, low-quality (punctuation soup), unknown lang
    import __spark_entry__ as entrymod

    base = (
        "the quick brown fox jumps over the lazy dog and the cat sat on the mat "
        "with the small bird of the house and is happy to see the sun in the sky "
        "while the dog is with the fox and the mat is under the cat near the door"
    )
    docs = [
        (1, base, "en", "web"),
        (2, base, "en", "web"),                      # exact dup of 1
        (3, base.replace("happy", "glad"), "en", "web"),  # near dup of 1
        (4, "the cat", "en", "web"),                 # too short
        (5, "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( ))) " * 3 + "the and of to is with a b c d", "en", "web"),
        (6, "zzz qqq xxx vvv kkk jjj www yyy mmm nnn ppp rrr", "xx", "web"),  # unknown lang
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    ).write.parquet(f"{sf}/documents.parquet")

    qs = entrymod.all_queries()
    out = {r["doc_id"]: r["verdict"] for r in qs["doc_curation_report"](spark, sf).collect()}
    assert out[1] == "keep"
    assert out[2] == "exact_dup"
    assert out[3] == "near_dup"
    assert out[4] == "too_short"
    assert out[5] == "low_quality"
    assert out[6] == "unknown_lang"


def test_contrastive_pairs_structure_and_determinism(spark, tmp_path):
    from data_warehouse_punta_fina_spark.operators.pairs import contrastive_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and the cat sat on the mat "
        "with the small bird of the house and is happy to see the sun in the sky"
    )
    # fillers are disjoint word soups — no shared shingles, so the only
    # verified near-dup pair is (1, 2)
    rows = [(1, base), (2, base.replace("happy", "glad"))] + [
        (i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(3, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = contrastive_pairs(docs, threshold=0.2, n_neg=3, neg_pool=16).collect()

    pos = {(r["anchor_id"], r["other_id"]) for r in out if r["label"] == "pos"}
    neg = [(r["anchor_id"], r["other_id"], r["pair_rank"]) for r in out if r["label"] == "neg"]
    assert (1, 2) in pos and (2, 1) in pos  # both orientations anchor
    # negatives: 3 per anchor, never self, never a positive
    by_anchor = {}
    for a, o, rk in neg:
        assert a != o and (a, o) not in pos
        by_anchor.setdefault(a, []).append(rk)
    assert set(by_anchor) == {1, 2}
    assert all(sorted(v) == [1, 2, 3] for v in by_anchor.values())

    again = contrastive_pairs(docs, threshold=0.2, n_neg=3, neg_pool=16).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in again}  # no RNG anywhere


def test_hard_negatives_excludes_top_ranks(spark):
    from data_warehouse_punta_fina_spark.operators.pairs import hard_negatives
    from data_warehouse_punta_fina_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 4")
    hn = hard_negatives(emb, q, lo_rank=6, hi_rank=10).collect()
    assert len(hn) == 4 * 5 and all(6 <= r["rank"] <= 10 for r in hn)
    top5 = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb, q, k=5).collect()}
    assert all((r["query_id"], r["neighbor_id"]) not in top5 for r in hn)
