"""Star-schema plan tests on the sf0.001 testdata: the reference's runtime
invariants (SURVEY.md §5.2) as assertions over the real builders."""

from __future__ import annotations

import glob
import os

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F


def test_dim_fecha_shape(spark, sf_dir):
    from data_warehouse_punta_fina_spark.plans.dims import build_dim_fecha

    df = build_dim_fecha(spark, sf_dir)
    assert df.count() == 4018  # 1995-01-01..2005-12-31
    assert df.filter(~F.col("dia_semana").between(1, 7)).count() == 0
    # default calendar covers every orderdate in the testdata
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    orders = load_table(spark, sf_dir, "orders")
    missing = orders.join(
        df, F.date_format("o_orderdate", "yyyyMMdd").cast("int") == df["fecha_id"], "left_anti"
    )
    assert missing.count() == 0


def test_dims_have_default_member_and_unique_sks(spark, sf_dir):
    from data_warehouse_punta_fina_spark.plans.dims import (
        build_dim_almacen,
        build_dim_cliente,
        build_dim_producto,
        build_dim_promocion,
        build_dim_proveedor,
        build_dim_usuario,
    )

    for build, sk in [
        (build_dim_producto, "producto_id"),
        (build_dim_cliente, "cliente_id"),
        (build_dim_usuario, "usuario_id"),
        (build_dim_almacen, "almacen_id"),
        (build_dim_proveedor, "proveedor_id"),
        (build_dim_promocion, "promocion_id"),
    ]:
        dim = build(spark, sf_dir)
        n = dim.count()
        assert dim.select(sk).distinct().count() == n, sk
        assert dim.filter(F.col(sk) == 1).count() == 1, sk  # default member


def test_fact_ventas_invariants(spark, sf_dir):
    from data_warehouse_punta_fina_spark.plans.dims import (
        build_dim_almacen,
        build_dim_cliente,
        build_dim_producto,
    )
    from data_warehouse_punta_fina_spark.plans.facts import build_fact_ventas

    dp = build_dim_producto(spark, sf_dir)
    dc = build_dim_cliente(spark, sf_dir)
    da = build_dim_almacen(spark, sf_dir)
    fv = build_fact_ventas(spark, sf_dir, dp, dc, da)

    n = fv.count()
    assert n > 0
    # grain uniqueness after defensive dedup
    assert fv.select("venta_id").distinct().count() == n
    # FK closure after default-member fallback
    for fk, dim, pk in [
        ("producto_id", dp, "producto_id"),
        ("cliente_id", dc, "cliente_id"),
        ("almacen_id", da, "almacen_id"),
    ]:
        orphans = fv.join(dim.select(pk), fv[fk] == dim[pk], "left_anti").count()
        assert orphans == 0, fk
    # money identity: total = subtotal + impuesto (cent-exact, decimal)
    bad = fv.filter(F.col("total") != F.col("subtotal") + F.col("impuesto")).count()
    assert bad == 0


def test_financial_chain_invariants(spark, sf_dir):
    from data_warehouse_punta_fina_spark.operators.quality import check_double_entry
    from data_warehouse_punta_fina_spark.plans.dims import build_dim_cuenta_contable
    from data_warehouse_punta_fina_spark.plans.facts import (
        build_fact_balance,
        build_fact_estado_resultados,
        build_fact_transacciones,
    )

    journal = build_fact_transacciones(spark, sf_dir).cache()
    # 3-5 journal rows per order
    per_order = journal.groupBy("orden_id").agg(F.count("*").alias("n"))
    assert per_order.filter(~F.col("n").between(3, 5)).count() == 0
    # double-entry invariant
    assert check_double_entry(journal).collect()[0]["passed"]

    balance = build_fact_balance(journal, build_dim_cuenta_contable(spark, sf_dir))
    # saldo_final - saldo_inicial == movimiento_neto per row
    bad = balance.filter(
        F.col("saldo_final") - F.col("saldo_inicial") != F.col("movimiento_neto")
    ).count()
    assert bad == 0

    pnl = build_fact_estado_resultados(journal)
    bad2 = pnl.filter(
        (F.col("utilidad_bruta") != F.col("ingresos") - F.col("costos"))
        | (F.col("utilidad_neta") != F.col("utilidad_bruta") - F.col("gastos"))
    ).count()
    assert bad2 == 0
    journal.unpersist()


STAR_TABLES = [
    "dim_fecha",
    "dim_producto",
    "dim_cliente",
    "dim_usuario",
    "dim_almacen",
    "dim_proveedor",
    "dim_cuenta_contable",
    "dim_promocion",
    "fact_ventas",
    "fact_inventario",
    "fact_transacciones",
    "fact_balance",
    "fact_estado_resultados",
]


def _serial_star_build(spark, sf_dir, warehouse_dir):
    """The build_* functions run_star_build composes, built and written one
    table after another."""
    from data_warehouse_punta_fina_spark.plans import dims as D
    from data_warehouse_punta_fina_spark.plans import facts as Fa
    from data_warehouse_punta_fina_spark.sources.writers import write_parquet

    t = {
        name: getattr(D, f"build_{name}")(spark, sf_dir)
        for name in STAR_TABLES
        if name.startswith("dim_")
    }
    t["fact_ventas"] = Fa.build_fact_ventas(
        spark, sf_dir, t["dim_producto"], t["dim_cliente"], t["dim_almacen"]
    )
    t["fact_inventario"] = Fa.build_fact_inventario(spark, sf_dir)
    journal = t["fact_transacciones"] = Fa.build_fact_transacciones(spark, sf_dir).cache()
    t["fact_balance"] = Fa.build_fact_balance(journal, t["dim_cuenta_contable"])
    t["fact_estado_resultados"] = Fa.build_fact_estado_resultados(journal)
    for name in STAR_TABLES:
        write_parquet(t[name], f"{warehouse_dir}/{name}")
    journal.unpersist()


def test_pipeline_runs_end_to_end(spark, sf_dir, tmp_path):
    """The concurrent two-wave build writes exactly the tables the serial
    composition of the same builders writes, row for row."""
    import duckdb

    from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

    result = run_star_build(spark, sf_dir, warehouse_dir=str(tmp_path / "wh"))
    assert list(result.tables) == STAR_TABLES
    assert list(result.counts) == STAR_TABLES
    assert all(v > 0 for v in result.counts.values())

    _serial_star_build(spark, sf_dir, str(tmp_path / "serial"))
    _assert_same_warehouses(tmp_path / "wh", tmp_path / "serial")
    con = duckdb.connect()
    for name in STAR_TABLES:
        got = f"SELECT count(*) FROM read_parquet('{tmp_path}/wh/{name}/*.parquet')"
        assert con.sql(got).fetchone()[0] == result.counts[name], name


def _assert_same_warehouses(got_dir, want_dir):
    """Every star table under ``got_dir`` holds exactly the rows, as a
    multiset, of the same table under ``want_dir``."""
    import duckdb

    con = duckdb.connect()
    for name in STAR_TABLES:
        got = f"SELECT * FROM read_parquet('{got_dir}/{name}/*.parquet')"
        want = f"SELECT * FROM read_parquet('{want_dir}/{name}/*.parquet')"
        for a, b in ((got, want), (want, got)):
            extra = con.sql(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
            assert extra == 0, name


def test_star_build_fact_ventas_reads_stored_dims(spark, sf_dir):
    """fact_ventas runs its SK lookups against the stored wave-1 dims: its
    plan scans only lineitem and orders, and reads dim_producto,
    dim_cliente and dim_almacen from their materialized rows instead of
    re-deriving each from part, customer, supplier and nation."""
    import re

    from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

    result = run_star_build(spark, sf_dir, warehouse_dir=None, count=True)
    # the frame's own plan, planned before any adaptive re-optimization
    plan = result.tables["fact_ventas"]._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in plan
    assert plan.count("FileScan parquet") == 2, plan
    assert sorted(re.findall(r"/(\w+)\.parquet", plan)) == ["lineitem", "orders"]
    assert plan.count("Scan ExistingRDD") == 3, plan


@pytest.mark.parametrize("table", ["dim_promocion", "fact_balance"])
def test_pipeline_failure_names_its_table(spark, sf_dir, monkeypatch, table):
    """A failing table (wave 1 or wave 2) is named in the error, with the
    stage it failed in, and the original exception is its cause."""
    from data_warehouse_punta_fina_spark.plans import pipeline

    boom = ValueError("boom")

    def fail(*args):
        raise boom

    if table in pipeline._DIMS:
        monkeypatch.setitem(pipeline._DIMS, table, fail)
    else:
        monkeypatch.setattr(pipeline, f"build_{table}", fail)
    with pytest.raises(pipeline.StarBuildError, match=table) as err:
        pipeline.run_star_build(spark, sf_dir, warehouse_dir=None, count=False)
    assert (err.value.table, err.value.stage) == (table, "build")
    assert err.value.__cause__ is boom


def test_durable_star_build_equals_ephemeral(spark, sf_dir, tmp_path):
    """With a checkpoint directory set on the session, the star build's
    materialized dims and journal are written as reliable checkpoints,
    and the build writes the same 13 tables, row for row, as with the
    default local checkpoints."""
    from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

    sc = spark.sparkContext
    ckpt = tmp_path / "ckpt"
    previous = sc._jsc.sc().getCheckpointDir()
    assert previous.isEmpty(), "the shared session must start without a checkpoint directory"
    try:
        sc.setCheckpointDir(str(ckpt))
        run_star_build(spark, sf_dir, warehouse_dir=str(tmp_path / "durable"), count=False)
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(previous)
    assert sc.getCheckpointDir() is None
    run_star_build(spark, sf_dir, warehouse_dir=str(tmp_path / "ephemeral"), count=False)
    _assert_same_warehouses(tmp_path / "durable", tmp_path / "ephemeral")
    written = [p for p in ckpt.rglob("part-*") if p.is_file()]
    assert written, "no checkpoint files under the session's checkpoint directory"


def test_pipeline_jobs_inherit_callers_job_group(spark, sf_dir):
    """Every job the build's worker threads launch carries the caller's job
    group, so cancelJobGroup and per-group attribution cover the build."""
    from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-star-build-group"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "star build under a caller's job group")
    try:
        run_star_build(spark, sf_dir, warehouse_dir=None, count=True)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup(group)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def _inferred_load(spark, sf_dir, name):
    """A source table read the way load_table read it before footer
    schemas: Spark's schema inference (one job per read) plus the same
    timestamp normalization. The reference for the equivalence tests."""
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.schemas import SOURCE_SCHEMAS

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    actual = {f.name: f.dataType for f in df.schema.fields}
    for f in SOURCE_SCHEMAS[name].fields:
        if not isinstance(f.dataType, T.TimestampType):
            continue
        got = actual.get(f.name)
        if isinstance(got, T.LongType):
            df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000")))
        elif isinstance(got, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def _group_job_ids(sc, group):
    """Job ids launched under ``group``, once the listener bus has delivered
    every event posted so far (the tracker is fed asynchronously)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_normalizes_both_timestamp_encodings(spark, tmp_path):
    """The driver's testdata has switched parquet timestamp encodings
    between rounds (TIMESTAMP(NANOS) -> timestamp[us] no-tz); load_table
    must deliver TIMESTAMP with identical values for every encoding a
    writer may choose (nanos, micros and millis without a zone, micros in
    UTC, legacy INT96), with the schema Spark's inference would give, and
    sessionize must run on the result (the round-3 breakage)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from data_warehouse_punta_fina_spark.operators.asof import sessionize
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    micros = [1_600_000_000_000_000 + i * 60_000_000 for i in range(8)]
    base = {
        "event_id": list(range(8)),
        "user_id": [1, 1, 1, 1, 2, 2, 2, 2],
        "event_type": ["click"] * 8,
        "value": [float(i) for i in range(8)],
        "props": ["{}"] * 8,
    }
    enc = {
        "ntz": (pa.array(micros, type=pa.timestamp("us")), {}),
        "nanos": (pa.array([m * 1000 for m in micros], type=pa.timestamp("ns")), {}),
        "utc": (pa.array(micros, type=pa.timestamp("us", tz="UTC")), {}),
        "millis": (pa.array([m // 1000 for m in micros], type=pa.timestamp("ms")), {}),
        "int96": (
            pa.array(micros, type=pa.timestamp("us")),
            {"use_deprecated_int96_timestamps": True},
        ),
    }
    got = {}
    for label, (ts_arr, write_opts) in enc.items():
        d = tmp_path / label
        d.mkdir()
        tbl = pa.table({**{k: pa.array(v) for k, v in base.items()}, "ts": ts_arr})
        pq.write_table(tbl, str(d / "events.parquet"), store_schema=False, **write_opts)
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), label
        assert df.schema == _inferred_load(spark, str(d), "events").schema, label
        got[label] = sorted(
            (r["event_id"], r["ts"]) for r in df.select("event_id", "ts").collect()
        )
        # the round-3 crash site: sessionize calls unix_micros(ts)
        sess = sessionize(df, key="user_id", time_col="ts", gap_seconds=1800)
        assert sess.count() == 8, label
    for label in enc:
        assert got[label] == got["ntz"], label


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EQUIV_DIRS = [
    os.path.join(_REPO, "perfbench", "data", "sf0.001"),
    os.path.join(_REPO, "perfbench", "data", "sf0.01"),
    *sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))),
]


@pytest.mark.parametrize(
    "sf", _EQUIV_DIRS, ids=lambda d: f"{os.path.basename(os.path.dirname(d))}-{os.path.basename(d)}"
)
def test_load_table_equals_inferred_read(spark, sf):
    """Every source table reads with the schema and the rows that Spark's
    schema inference plus the same normalization give: the footer-derived
    schema changes how the scan is set up, never what it returns."""
    from data_warehouse_punta_fina_spark.schemas import TABLE_NAMES
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    for name in TABLE_NAMES:
        got = load_table(spark, sf, name)
        want = _inferred_load(spark, sf, name)
        assert got.schema == want.schema, name
        # multiset difference in one job: +1 per row read here, -1 per
        # reference row; any group whose sum is not 0 differs
        diff = (
            got.withColumn("_side", F.lit(1))
            .unionByName(want.withColumn("_side", F.lit(-1)))
            .groupBy(*got.columns)
            .agg(F.sum("_side").alias("n"))
            .filter("n != 0")
        )
        assert diff.isEmpty(), name


@pytest.fixture(scope="module")
def persisted_tables(spark, tmp_path_factory):
    """One small copy of every persisted layout the engine writes, built
    by its own writers under one directory."""
    from data_warehouse_punta_fina_spark.operators.classify import nb_save_model
    from data_warehouse_punta_fina_spark.operators.dedup import minhash_band_keys
    from data_warehouse_punta_fina_spark.operators.retrieval import (
        bm25_build_index,
        positional_build_index,
    )
    from data_warehouse_punta_fina_spark.operators.similarity import ivfpq_build_index
    from data_warehouse_punta_fina_spark.sources.generators import literal_table
    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.streaming.bm25_stream import bm25_maintenance_batch

    root = str(tmp_path_factory.mktemp("persisted"))
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").filter("doc_id < 12")
    bm25_build_index(docs, f"{root}/bm25", n_buckets=4)
    for batch_id in (0, 1):
        batch = docs.filter(F.col("doc_id") % 2 == batch_id)
        bm25_maintenance_batch(batch, batch_id, f"{root}/bm25_stream", n_buckets=4)
    positional_build_index(docs, f"{root}/positional", n_buckets=4)
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ivfpq_build_index(emb.filter("vec_id < 8"), f"{root}/ivfpq", n_cells=2, m=2, n_centroids=2, iters=1)
    minhash_band_keys(docs).write.partitionBy("band").parquet(f"{root}/bands")
    labeled = literal_table(
        spark, [(1, "gato perro", "es"), (2, "cat dog", "en")], "doc_id long, text string, label string"
    )
    nb_save_model(labeled, f"{root}/nb")
    wide = literal_table(spark, [(1, 2**40), (2, 7)], "v int, k long")
    wide.write.partitionBy("k").parquet(f"{root}/wide")
    return root


@pytest.mark.parametrize(
    "table",
    [
        "bm25/postings",
        "bm25_stream/postings",
        "positional/positions",
        "ivfpq/codes",
        "bands",
        "nb/cond",
        "bm25_stream/dfstats_epochs/epoch=1",
        "wide",
    ],
)
def test_read_parquet_equals_inferred_read(spark, persisted_tables, table):
    """Every persisted layout the engine writes (BM25 batch and stream-built,
    positional, IVF-PQ codes, LSH bands, an NB model, one epoch table, a
    partition value past 32 bits) opens through ``read_parquet`` with no
    job, and with the schema (field metadata and partition column types
    included) and the rows of Spark's own schema inference."""
    from data_warehouse_punta_fina_spark.sources.readers import read_parquet

    path = f"{persisted_tables}/{table}"
    want = spark.read.parquet(path)
    sc = spark.sparkContext
    sc.setJobGroup("read-parquet", "read_parquet must not run jobs")
    try:
        got = read_parquet(spark, path)
        assert _group_job_ids(sc, "read-parquet") == []
    finally:
        sc.setJobGroup("", "")
    assert got.schema == want.schema
    assert [f.metadata for f in got.schema] == [f.metadata for f in want.schema]
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_read_parquet_refuses_non_integer_partition(spark, tmp_path):
    """A partition directory whose value is not an integer raises, naming
    the table and the column: no type is guessed for it."""
    from data_warehouse_punta_fina_spark.sources.generators import literal_table
    from data_warehouse_punta_fina_spark.sources.readers import read_parquet

    path = str(tmp_path / "by_name")
    literal_table(spark, [(1, "a")], "v int, s string").write.partitionBy("s").parquet(path)
    with pytest.raises(ValueError, match=r"by_name.*column 's'"):
        read_parquet(spark, path)


def test_missing_table_is_absent_without_a_job(spark, tmp_path):
    """``data_entries`` reads a missing table, and a directory holding only
    hidden entries, as absent, and runs no job."""
    from data_warehouse_punta_fina_spark.sources.readers import data_entries

    (tmp_path / "hidden").mkdir()
    (tmp_path / "hidden" / "_SUCCESS").touch()
    sc = spark.sparkContext
    sc.setJobGroup("data-entries", "data_entries must not run jobs")
    try:
        assert data_entries(spark, str(tmp_path / "missing")) == []
        assert data_entries(spark, str(tmp_path / "hidden")) == []
        assert _group_job_ids(sc, "data-entries") == []
    finally:
        sc.setJobGroup("", "")


def test_load_table_launches_no_job(spark, sf_dir):
    """Opening a source table is pure planning: the schema comes from the
    parquet footer on the driver, not from a Spark inference job."""
    from data_warehouse_punta_fina_spark.schemas import TABLE_NAMES
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    sc = spark.sparkContext
    sc.setJobGroup("load-table", "load_table must not run jobs")
    try:
        for name in TABLE_NAMES:
            assert load_table(spark, sf_dir, name).columns, name
        assert _group_job_ids(sc, "load-table") == []
    finally:
        sc.setJobGroup("", "")


def test_load_table_reads_spark_written_directory(spark, sf_dir, tmp_path):
    """A Spark-written table directory (part files, ``_SUCCESS``, ``.crc``
    files) holding a subset of the declared columns reads with its own
    schema, and a rewrite between two calls is seen by the second."""
    from data_warehouse_punta_fina_spark.sources.readers import load_table

    src = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = tmp_path / "documents.parquet"
    src.repartition(3).write.parquet(str(out))
    assert (out / "_SUCCESS").exists()
    df = load_table(spark, str(tmp_path), "documents")
    assert df.columns == ["doc_id", "text"]
    assert df.schema == _inferred_load(spark, str(tmp_path), "documents").schema
    assert sorted(df.collect()) == sorted(src.collect())
    src.select("doc_id").write.mode("overwrite").parquet(str(out))
    assert load_table(spark, str(tmp_path), "documents").columns == ["doc_id"]


def test_load_table_refuses_unmappable_type(spark, tmp_path):
    """A column whose parquet type Spark cannot read fails at load_table,
    naming the table file, the column and the type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_warehouse_punta_fina_spark.sources.readers import load_table

    tbl = pa.table(
        {
            "r_regionkey": pa.array([0], pa.int32()),
            "r_opens": pa.array([{"at": 3_600_000_000}], pa.struct([("at", pa.time64("us"))])),
        }
    )
    pq.write_table(tbl, str(tmp_path / "region.parquet"))
    with pytest.raises(ValueError, match=r"region\.parquet: column 'r_opens\.at' has arrow type time64\[us\]"):
        load_table(spark, str(tmp_path), "region")


def test_dim_and_fact_plan_building_is_fully_lazy(spark, sf_dir):
    """Plan construction must not run jobs. ranked_sequential_id on an
    in-memory frame must launch ZERO jobs (the old rank ran two eager
    collects per call), and so must building the full file-backed dim+fact
    plans: source schemas come from parquet footers read on the driver."""
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id
    from data_warehouse_punta_fina_spark.plans.dims import (
        build_dim_almacen,
        build_dim_cliente,
        build_dim_producto,
    )
    from data_warehouse_punta_fina_spark.plans.facts import build_fact_ventas

    sc = spark.sparkContext

    sc.setJobGroup("lazy-rank", "operator must not run jobs")
    try:
        df = spark.range(0, 10_000).select((F.col("id") * 37 % 9973).alias("k"))
        ranked = ranked_sequential_id(df, "k", out="sk", start=2)
        assert "sk" in ranked.columns
        assert _group_job_ids(sc, "lazy-rank") == []
    finally:
        sc.setJobGroup("", "")

    sc.setJobGroup("lazy-plan", "plan building must not run jobs")
    try:
        p = build_dim_producto(spark, sf_dir)
        c = build_dim_cliente(spark, sf_dir)
        a = build_dim_almacen(spark, sf_dir)
        fact = build_fact_ventas(spark, sf_dir, p, c, a)
        assert len(fact.columns) > 5
        assert _group_job_ids(sc, "lazy-plan") == []
    finally:
        sc.setJobGroup("", "")


def test_star_build_plans_read_no_python_fed_scan(spark, sf_dir):
    """The 8 dims and 5 facts run_star_build composes read their literal
    rows (default members, dim_cuenta_contable, dim_tipo_movimiento) from
    LocalTableScans: no executed plan holds a Python-fed ExistingRDD scan,
    whose every read forks Python workers."""
    from data_warehouse_punta_fina_spark.plans import pipeline as P

    built = {name: build(spark, sf_dir) for name, build in P._DIMS.items()}
    built["fact_inventario"] = P.build_fact_inventario(spark, sf_dir)
    built["fact_transacciones"] = P.build_fact_transacciones(spark, sf_dir)
    built["fact_ventas"] = P.build_fact_ventas(
        spark, sf_dir, built["dim_producto"], built["dim_cliente"], built["dim_almacen"]
    )
    built["fact_balance"] = P.build_fact_balance(
        built["fact_transacciones"], built["dim_cuenta_contable"]
    )
    built["fact_estado_resultados"] = P.build_fact_estado_resultados(built["fact_transacciones"])
    assert set(built) == set(P._TABLES)
    plans = {n: df._jdf.queryExecution().executedPlan().toString() for n, df in built.items()}
    assert [n for n, plan in plans.items() if "ExistingRDD" in plan] == []
    assert "LocalTableScan" in plans["fact_ventas"] and "LocalTableScan" in plans["fact_inventario"]


def test_parquet_pushdown_and_column_pruning(spark):
    """Filters and projections must reach the parquet scan: PushedFilters
    non-empty and ReadSchema pruned to the referenced columns — a scan
    reading all columns for a 2-column projection is wrong at any scale."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.readers import load_table

    df = (
        load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .filter(F.col("l_quantity") > 10)
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan, plan[:800]
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:800]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_bm25_tokenizes_corpus_once(spark):
    """bm25_topk must not pay a second tokenize pass for avgdl/df/idf.

    Round-16 mechanism change: the r5-r15 shape leaned on ReuseExchange,
    and this test's old `ReusedExchange >= 1` assert stayed green while
    stage profiles showed the tokenize exchange executing TWICE at
    runtime (the df/n_docs consumers sit in broadcast subtrees whose AQE
    stages don't dedupe against the main plan). corpus_term_stats now
    localCheckpoints the base (doc, term) counts, so the guarantee is
    structural: the final plan reads the postings from a materialized
    ExistingRDD, and NO corpus tokenize appears in it at all (the
    checkpoint build — the only tokenize — runs once by construction).
    At 100 TB tokenization is the dominant map cost (round-4 VERDICT #2).
    """
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    df = qs["doc_bm25_topk"](spark, "/root/testdata/sf0.001")
    df.collect()  # finalize THIS DataFrame's adaptive plan (a .write would
    # spawn a separate QueryExecution and leave this one un-finalized)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # the postings feed every branch from materialized blocks
    assert "Scan ExistingRDD" in plan, "postings are no longer materialized"
    # and no tokenize survives in the final plan (queries are literal;
    # the corpus tokenize lives only inside the one checkpoint build)
    assert "split(lower(" not in plan, (
        "found a tokenize outside the checkpointed postings build: "
        + next(l for l in plan.splitlines() if "split(lower(" in l).strip()[:200]
    )


def test_hybrid_rrf_plan_broadcasts_queries_and_reuses_tokenize(spark):
    """doc_hybrid_rrf_search (round 9): the lexical side must join the
    corpus postings against BROADCAST query terms (queries are 4 docs;
    shuffling the corpus on term for them would be the 100 TB mistake),
    the semantic side must broadcast the 4 query vectors, and the corpus
    tokenize exchange must be runtime-reused, not recomputed per branch.
    The RRF fusion itself only ever sees top-k'd candidates."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    df = qs["doc_hybrid_rrf_search"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:600]
    assert "CartesianProduct" not in plan
    # round-16: the corpus postings are checkpoint-materialized inside
    # corpus_term_stats (the old ReusedExchange assert held while the
    # tokenize still ran twice at runtime — see test_bm25_tokenizes_
    # corpus_once); the only tokenize left in the final plan is the
    # 4-query-doc terms explode
    assert "Scan ExistingRDD" in plan, "postings are no longer materialized"
    for line in plan.splitlines():
        if "split(lower(" in line:
            assert "Generate explode" in line, line.strip()[:200]

    # the scale-path twin: semantic candidates come from the trained-IVF
    # cell join (equi-join on cid), never a corpus-wide cosine crossJoin.
    # Round-16: the two legs are built concurrently and land behind lazy
    # checkpoints (guide §2.6), so the FUSE's executed plan only shows
    # ExistingRDD tails — neutralize localCheckpoint for this build so the
    # executed plan exposes the leg internals the assertions guard.
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    _orig_ckpt = _CDF.localCheckpoint
    try:
        _CDF.localCheckpoint = lambda self, eager=True: self
        df2 = qs["doc_hybrid_rrf_search_ivf"](spark, "/root/testdata/sf0.001")
        df2.collect()
    finally:
        _CDF.localCheckpoint = _orig_ckpt
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan2
    assert "CartesianProduct" not in plan2
    assert plan2.count("BroadcastHashJoin") >= 2, plan2[:600]


def test_results_invariant_under_adversarial_shuffle_partitions(spark):
    """Cluster-determinism gate: representative queries from the decimal-
    sum, window-chain, and LSH families must produce IDENTICAL results
    under a hostile shuffle-partition count (3 vs the configured 32) —
    any float-order or partition-layout dependence shows up here before
    it shows up as a flaky hash on a real cluster."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    names = [
        "doc_surprisal",
        "fact_balance",
        "doc_minhash_lsh",
        # session-2 families: integer fixed-point all-pairs cosine, the
        # per-source gate's decimal mean, the JL int64 accumulation
        "doc_tfidf_pairs",
        "source_quality_report",
        "emb_random_projection",
    ]
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    def snapshot():
        return {
            n: sorted(map(tuple, qs[n](spark, "/root/testdata/sf0.001").collect()))
            for n in names
        }

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = snapshot()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        hostile = snapshot()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    for n in names:
        assert base[n] == hostile[n], f"{n} changed under shuffle-partition change"
        assert len(base[n]) > 0


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Scale insurance: a hot key (90% of rows) in a shuffle join is
    re-planned by AQE into split skewed partitions — the engine's answer
    to skew at 100 TB is configuration, not manual salting, for plain
    equi-joins (manual salting stays for aggregations: salted_agg)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # shrink thresholds so test-sized data exhibits the 100 TB behavior
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100k")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100k")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit("d").alias("name"))
        j = left.join(right, "k")
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_write_clustered_partition_pruning(spark, tmp_path):
    """write_clustered's layout must make BOTH pruning tiers real:
    (1) a partition-column filter reaches the scan as PartitionFilters and
    the scan's input files never leave the matching directory;
    (2) within a partition, files carry NON-OVERLAPPING cluster-key ranges
    (the property parquet row-group min/max skipping needs) and a
    cluster-key predicate is pushed to the scan."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.sources.writers import write_clustered

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    path = str(tmp_path / "clustered")
    write_clustered(
        li, path, partition_cols=["l_returnflag"], cluster_cols=["l_quantity"], n_files=8
    )

    back = spark.read.parquet(path)
    pruned = back.filter(F.col("l_returnflag") == "R")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must land in PartitionFilters (directory
    # pruning), NOT in PushedFilters (data filtering) — inputFiles() can't
    # show this (it lists the unpruned relation), the scan node does
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and _re.search(r"l_returnflag#\d+ = R", m.group(1)), plan[:1200]
    # row counts survive the layout round-trip, pruned scan included
    assert back.count() == li.count()
    assert pruned.count() == li.filter(F.col("l_returnflag") == "R").count()

    # cluster-key predicate is pushed down to the scan
    qplan = (
        back.filter(F.col("l_quantity") < 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LessThan(l_quantity" in qplan, qplan[:1200]

    # files within one partition have non-overlapping l_quantity ranges
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(f"{path}/l_returnflag=R/*.parquet")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_quantity"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2, "expected multiple clustered files per partition"
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping cluster ranges: {ranges}"


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """With runtime bloom-filter join pruning enabled, a selective dim-side
    filter should inject a BloomFilter on the fact side's scan stage so
    non-matching fact rows die before the shuffle — the 100 TB play for
    selective star joins too big to broadcast. Gate: the optimized plan
    carries a bloom_filter/BloomFilterMightContain on the probe side."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.readers import load_table

    sf_dir = "/root/testdata/sf0.001"
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # tiny testdata: drop BOTH size floors so the rewrite fires at
        # sf0.001 (prod defaults: creation side ≤ 10MB, probe side ≥ 10GB)
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in optimized or "BloomFilter" in optimized, optimized[:2000]
        # and the join still computes the right thing
        n = joined.count()
        assert n > 0
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_write_zordered_bounds_every_dimension(spark, tmp_path):
    """Z-ordered files must cover bounded boxes in BOTH cluster
    dimensions; 1-D range clustering on the first column leaves the
    second column's per-file range at ~full width. Quantified via
    parquet footer min/max over the written files."""
    import glob

    import pyarrow.parquet as pq

    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.sources.writers import (
        write_clustered,
        write_zordered,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )

    def file_spans(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            spans.append(max(maxs) - min(mins))
        return spans

    zpath = str(tmp_path / "z")
    write_zordered(ev, zpath, ["user_id", "value"], bits=8, n_files=16)
    lpath = str(tmp_path / "linear")
    # 1-D comparison: same file count, clustered by user_id only
    write_clustered(ev, lpath, partition_cols=[], cluster_cols=["user_id"], n_files=16)

    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()

    lo_u, hi_u = [
        r[0] for r in ev.agg(F.min("user_id")).collect()
    ][0], ev.agg(F.max("user_id")).collect()[0][0]
    lo_v, hi_v = ev.agg(F.min("value")).collect()[0][0], ev.agg(F.max("value")).collect()[0][0]
    span_u, span_v = (hi_u - lo_u) or 1, (hi_v - lo_v) or 1

    z_u = [s / span_u for s in file_spans(zpath, "user_id")]
    z_v = [s / span_v for s in file_spans(zpath, "value")]
    l_v = [s / span_v for s in file_spans(lpath, "value")]

    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    # z-order: BOTH dimensions bounded well below full width on average
    # (measured ~0.26 / ~0.22 at 16 files, bits=8)
    assert mean(z_u) < 0.5, z_u
    assert mean(z_v) < 0.5, z_v
    # z-order beats 1-D clustering on the NON-leading dimension by a wide
    # margin (measured 0.22 vs 0.70 — 1-D leaves it ~unpruned, modulo the
    # testdata's mild user/value correlation)
    assert mean(z_v) < 0.5 * mean(l_v), (mean(z_v), mean(l_v))
    # ...the trade: 1-D owns its leading dimension
    l_u = [s / span_u for s in file_spans(lpath, "user_id")]
    assert mean(l_u) < mean(z_u)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """A 40-file spray compacts to the size-derived target count with
    identical content; cluster_cols additionally sorts the rewrite."""
    import glob

    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.sources.writers import compact_parquet

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    src = str(tmp_path / "spray")
    ev.repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 40

    dest = str(tmp_path / "compacted")
    # target far above total size -> single file
    n = compact_parquet(spark, src, dest, target_file_bytes=1 << 30)
    assert n == 1
    files = glob.glob(f"{dest}/*.parquet")
    assert len(files) == 1
    back = spark.read.parquet(dest)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0 and ev.exceptAll(back).count() == 0

    # clustered compaction: rows sorted by the cluster key within the file
    dest2 = str(tmp_path / "compacted2")
    compact_parquet(spark, src, dest2, target_file_bytes=1 << 30, cluster_cols=["event_id"])
    ids = [r["event_id"] for r in spark.read.parquet(dest2).collect()]
    assert ids == sorted(ids)


def test_tfidf_pairs_plan_stays_materialized(spark):
    """Regression tripwire: without the unit-table materialization the
    tf-idf self-join re-derives the tokenize subtree per branch (95
    exchanges, ~38 corpus scans when first audited). Keep the executed
    plan small and free of raw text re-scans."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    df = qs["doc_tfidf_pairs"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 12, plan.count("Exchange")
    # the corpus text column must not appear in any scan of the final
    # plan: both join branches read the checkpointed unit table
    assert "text#" not in plan


def test_write_zordered_three_columns(spark, tmp_path):
    """N-dim morton: with three cluster columns every dimension's
    per-file span stays bounded (the 2-D test's property generalizes);
    21 bits × 3 dims fits the int64 key, 22 must raise."""
    import glob

    import pytest

    import pyarrow.parquet as pq

    from data_warehouse_punta_fina_spark.sources.readers import load_table
    from data_warehouse_punta_fina_spark.sources.writers import (
        write_zordered,
        zorder_key,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "z3")
    write_zordered(ev, path, ["event_id", "user_id", "value"], bits=8, n_files=16)
    assert spark.read.parquet(path).count() == ev.count()

    spans = {}
    for col in ("event_id", "user_id", "value"):
        lo = ev.agg({col: "min"}).collect()[0][0]
        hi = ev.agg({col: "max"}).collect()[0][0]
        width = (hi - lo) or 1
        per_file = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            per_file.append((max(maxs) - min(mins)) / width)
        spans[col] = sum(per_file) / len(per_file)
    # three dims share 63 key bits: boxes are coarser than 2-D but every
    # dimension must still be meaningfully bounded below full width
    assert all(s < 0.8 for s in spans.values()), spans

    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c"], bits=22)  # 66 bits > int64


def test_pmi_and_psi_plans_stay_materialized(spark):
    """Regression tripwire for the session-3 materialization fixes:
    doc_collocations re-tokenized the corpus once per pair-table consumer
    (15 exchanges / 4 text scans when first audited) and events_drift_psi
    re-scanned events once per cuts/total consumer (12 exchanges / 10
    scans). The checkpointed intermediates keep both plans small and
    free of repeated source scans."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    plan = (
        qs["doc_collocations"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 8, plan.count("Exchange")
    assert "text#" not in plan  # every branch reads the pair-count table

    plan2 = (
        qs["events_drift_psi"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan2.count("Exchange") <= 9, plan2.count("Exchange")
    # binning touches events once per side; the spine/totals reuse the
    # checkpointed cut row and count tables instead of re-scanning
    assert plan2.count("FileScan parquet") <= 3, plan2.count("FileScan parquet")


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tmp_path):
    """ORC sink/scan: values survive the roundtrip, filters reach the ORC
    scan (PushedFilters), the read schema prunes to the projection, and a
    hive-partitioned write prunes directories (PartitionFilters)."""
    from pyspark.sql import functions as F

    from data_warehouse_punta_fina_spark.sources.readers import load_table, read_orc
    from data_warehouse_punta_fina_spark.sources.writers import write_orc

    src = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    write_orc(src, path, partition_by=["l_returnflag"])

    back = read_orc(spark, path)
    assert back.count() == src.count()
    a = {tuple(r) for r in src.collect()}
    b = {(r["l_orderkey"], r["l_linenumber"], r["l_quantity"], r["l_returnflag"]) for r in back.collect()}
    assert a == b

    q = (
        back.filter((F.col("l_quantity") > 10) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_quantity")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan, plan[:900]
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey",
        "l_quantity",
    }, plan[:900]
    # the partition filter must be a directory prune, not a data filter
    assert re.search(r"PartitionFilters: \[[^\]]*l_returnflag", plan), plan[:900]


def test_session5_query_plan_shapes(spark):
    """Plan-shape gates for the session-5 families (the tf-idf precedent:
    plan regressions are cheaper to catch than bench regressions):
    - grouped OLS is ONE exchange (a single map-side-combined aggregate);
    - the linkage block join broadcasts the small (supplier) side and
      pushes the block-key IsNotNull filters into both scans;
    - merge_asof pushes the event_type equality into both scans and never
      produces a nested-loop / cartesian join.
    """
    import re

    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"

    ols = qs["lineitem_ols_trend"](spark, sf)
    plan = ols._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange ", plan)) == 1, plan[:800]

    link = qs["customer_supplier_link"](spark, sf)
    plan = link._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "IsNotNull(c_nationkey)" in plan and "IsNotNull(s_nationkey)" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    asof = qs["events_asof_nearest"](spark, sf)
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert plan.count("EqualTo(event_type") >= 2, plan[:800]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_session6_query_plan_shapes(spark):
    """Plan-shape gates for the session-6 families:
    - mutual information scans events ONCE (marginals re-aggregate the
      checkpointed cell table, never the source);
    - grid-KS touches events at most twice (cut fit + the one conditional
      aggregate) and has no cartesian anywhere (the 1-row grid attaches
      via a broadcast nested-loop on a literal row, never a shuffle);
    - the Gini query broadcasts the 25-row nation dim and never falls
      back to a cartesian;
    - the PQ ADC scan joins codes to the LUT with a BROADCAST hash join
      (the LUT is |Q|·m·k rows) — a shuffle there would move the whole
      code table per query batch.
    """
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"

    mi = qs["events_type_hour_mi"](spark, sf)
    plan = mi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 1, plan.count("FileScan parquet")
    assert "CartesianProduct" not in plan

    ks = qs["events_ks_value_drift"](spark, sf)
    plan = ks._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 2, plan.count("FileScan parquet")
    assert "CartesianProduct" not in plan

    gini = qs["nation_revenue_concentration"](spark, sf)
    plan = gini._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    pq = qs["ann_pq_topk"](spark, sf)
    plan = pq._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round6_query_plan_shapes(spark):
    """Plan-shape gates for the round-6 families:
    - the Bloom semi-join probes attach via BROADCAST joins (the bitmap
      is ≤ m/64 words) and the big side scans lineitem exactly once;
    - EWMA reads events once (lags are one window pass, no self-join);
    - CUSUM's 1-row stats row attaches via broadcast, never cartesian;
    - AUC aggregates documents once (the cumulative window runs on the
      score-distinct aggregate, not the corpus);
    - the systematic sample inherits ranked_sequential_id's no-global-
      window guarantee (no single-partition Exchange anywhere).
    """
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"

    bloom = qs["urgent_lineitems_bloom"](spark, sf)
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan.count("BroadcastHashJoin")
    import re

    li_scans = len(re.findall(r"FileScan parquet.*lineitem", plan))
    assert li_scans == 1, f"lineitem scanned {li_scans}x"

    ew = qs["events_ewma_daily"](spark, sf)
    plan = ew._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan

    cu = qs["revenue_cusum_changepoint"](spark, sf)
    plan = cu._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") <= 2

    auc = qs["doc_quality_auc"](spark, sf)
    plan = auc._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan

    sample = qs["orders_systematic_sample"](spark, sf)
    plan = sample._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # ranked_sequential_id's only single-partition exchanges are the
    # SAMPLE-sized cutpoint collect_lists (input pre-filtered to ~n/512
    # by the xxhash stride): every one must sit directly on a partial
    # collect_list, never on a data-sized Sort (a global sort would show
    # Sort feeding Exchange SinglePartition)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "partial_collect_list" in below, below


def test_round6_wave456_plan_shapes(spark):
    """Later round-6 waves: no cartesian products anywhere; the prefix
    join's candidate stage joins on tokens (hash join, never nested
    loop); trailing DAU never self-joins events (explode + one
    aggregate); Theil-Sen's O(n^2) pair join runs on the AGGREGATE
    (weekly) relation — the raw orders scan appears at most twice
    (lineage recompute for the a/b branches), never four times."""
    import __spark_entry__ as entrymod

    qs = entrymod.all_queries()
    sf = "/root/testdata/sf0.001"

    for name in (
        "doc_prefix_jaccard_pairs",
        "events_trailing_dau",
        "weekly_revenue_theilsen",
        "doc_quality_calibration",
        "revenue_pareto_parts",
        "events_multiplicative_means",
    ):
        plan = qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name

    dau = qs["events_trailing_dau"](spark, sf)
    plan = dau._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 2  # du + bounds branches

    ts = qs["weekly_revenue_theilsen"](spark, sf)
    plan = ts._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"FileScan parquet.*orders", plan)) <= 4
