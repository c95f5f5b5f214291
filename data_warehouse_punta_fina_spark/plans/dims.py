"""Dimension builders (reference SURVEY.md §1.5, §2; `complete_dimension_builder.py`).

Each builder is a pure DataFrame transform over the driver testdata
stand-ins (FIXTURES.md §C): part→dim_producto, customer→dim_cliente,
supplier→dim_almacen/dim_proveedor, events users→dim_usuario, generated
calendar→dim_fecha, literal chart of accounts→dim_cuenta_contable.

Surrogate keys: every dimension reserves SK=1 for the default member
('Sin …' row, reference `main.py:419-437`); real rows get dense SKs from 2
ordered by the natural key. SK assignment uses the two-pass range-
partitioned rank (operators.windows.ranked_sequential_id) — same values
as ``ROW_NUMBER() OVER (ORDER BY key)`` but no global window, so
part/customer-derived dims stay scale-safe at sf100 where they are tens
of millions of rows. Facts never get dense-sequence SKs at all
(venta_id is key-derived).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.dates import (
    date_key,
    is_weekend,
    iso_dow,
    spanish_day_name,
    spanish_month_name,
)
from data_warehouse_punta_fina_spark.functions.money import pround, pround2
from data_warehouse_punta_fina_spark.functions.strings import coded_id, full_name, name_or_default
from data_warehouse_punta_fina_spark.sources.generators import date_range_source, literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table

CALENDAR_START = "1995-01-01"
CALENDAR_END = "2005-12-31"


def _dense_sk(df: DataFrame, order_col: str, sk_name: str) -> DataFrame:
    """SK = 1 + rank over the natural key (SK 1 = default member),
    computed without a global window (ranked_sequential_id)."""
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    out = ranked_sequential_id(df, order_col, out=sk_name, start=2)
    return out.withColumn(sk_name, F.col(sk_name).cast("int"))


def build_dim_fecha(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Calendar dimension 1995-2005 (reference `complete_dimension_builder.py:74-141`):
    generated with sequence+explode (S7), Spanish names, ISO week, weekend flag."""
    days = date_range_source(spark, CALENDAR_START, CALENDAR_END, "fecha")
    return days.select(
        date_key("fecha").alias("fecha_id"),
        F.col("fecha"),
        F.year("fecha").alias("anio"),
        F.month("fecha").alias("mes"),
        F.dayofmonth("fecha").alias("dia"),
        F.quarter("fecha").alias("trimestre"),
        F.weekofyear("fecha").alias("semana"),
        iso_dow("fecha").alias("dia_semana"),
        spanish_day_name("fecha").alias("nombre_dia"),
        spanish_month_name("fecha").alias("nombre_mes"),
        is_weekend("fecha").alias("es_fin_semana"),
    )


def build_dim_producto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → dim_producto (reference `complete_dimension_builder.py:196-343`):
    name fallback, brand = first token, price-estimation rules
    (cost = price*0.4 when missing, margin %), coded id."""
    part = load_table(spark, sf_dir, "part")
    enriched = part.select(
        F.col("p_partkey").alias("producto_externo_id"),
        coded_id("PRD-", "p_partkey", 8).alias("codigo"),
        name_or_default("p_name", "Producto ", "p_partkey").alias("nombre"),
        F.split(F.col("p_brand"), "#").getItem(0).alias("marca"),
        F.coalesce(F.col("p_type"), F.lit("Sin Categoría")).alias("categoria"),
        F.col("p_size").alias("talla"),
        pround2("p_retailprice").alias("precio_base"),
        # price-estimation rule: missing cost → 40% of price (`:296-316`)
        pround2(F.col("p_retailprice") * 0.4).alias("costo_estandar"),
        F.lit(True).alias("activo"),
    ).withColumn(
        "margen_pct",
        pround(
            (F.col("precio_base").cast("double") - F.col("costo_estandar").cast("double"))
            / F.col("precio_base").cast("double")
            * 100,
            2,
            10,
        ),
    )
    with_sk = _dense_sk(enriched, "producto_externo_id", "producto_id")
    default_row = literal_table(
        spark,
        [(1, -1, "PRD-00000000", "Sin Producto", "Sin Marca", "Sin Categoría", 0, None, None, False, None)],
        "producto_id int, producto_externo_id bigint, codigo string, nombre string, marca string, "
        "categoria string, talla int, precio_base decimal(15,2), costo_estandar decimal(15,2), "
        "activo boolean, margen_pct decimal(10,2)",
    )
    cols = [
        "producto_id",
        "producto_externo_id",
        "codigo",
        "nombre",
        "marca",
        "categoria",
        "talla",
        "precio_base",
        "costo_estandar",
        "activo",
        "margen_pct",
    ]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


def build_dim_cliente(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ nation → dim_cliente (reference
    `complete_dimension_builder.py:348-402`): left-join enrichment (J2),
    dedup by natural key, CLI- coded id, name fallback."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        customer.join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .select(
            F.col("c_custkey").alias("cliente_externo_id"),
            coded_id("CLI-", "c_custkey", 6).alias("codigo"),
            name_or_default("c_name", "Cliente ", "c_custkey").alias("nombre"),
            F.coalesce(F.col("c_mktsegment"), F.lit("Sin Segmento")).alias("segmento"),
            F.coalesce(F.col("n_name"), F.lit("Sin País")).alias("pais"),
            pround2("c_acctbal").alias("saldo"),
            F.lit(True).alias("activo"),
        )
        .dropDuplicates(["cliente_externo_id"])
    )
    with_sk = _dense_sk(base, "cliente_externo_id", "cliente_id")
    default_row = literal_table(
        spark, [(1, -1, "CLI-000000", "Sin Cliente", "Sin Segmento", "Sin País", None, False)],
        "cliente_id int, cliente_externo_id bigint, codigo string, nombre string, segmento string, "
        "pais string, saldo decimal(15,2), activo boolean",
    )
    cols = ["cliente_id", "cliente_externo_id", "codigo", "nombre", "segmento", "pais", "saldo", "activo"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


def build_dim_usuario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events users → dim_usuario (reference `complete_dimension_builder.py:146-194`):
    active users with username/full-name COALESCE(NULLIF(...)) fallback."""
    events = load_table(spark, sf_dir, "events")
    users = events.select(F.col("user_id").alias("usuario_externo_id")).distinct()
    base = users.select(
        "usuario_externo_id",
        F.concat(F.lit("user"), F.col("usuario_externo_id").cast("string")).alias("username"),
        F.concat(F.lit("user"), F.col("usuario_externo_id").cast("string"), F.lit("@puntafina.sv")).alias(
            "email"
        ),
    ).withColumn(
        # full-name fallback (no first/last names in the stand-in → username)
        "nombre_completo",
        full_name(F.lit(None).cast("string"), F.lit(None).cast("string"), F.col("username")),
    )
    with_sk = _dense_sk(base, "usuario_externo_id", "usuario_id")
    default_row = literal_table(
        spark, [(1, -1, "sin_usuario", "sin_usuario@puntafina.sv", "Sin Usuario")],
        "usuario_id int, usuario_externo_id bigint, username string, email string, nombre_completo string",
    )
    cols = ["usuario_id", "usuario_externo_id", "username", "email", "nombre_completo"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


def build_dim_almacen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → dim_almacen (reference CSV catalog dim,
    `complete_dimension_builder.py:820-860`): union of default member + rows."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    base = supplier.join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"], "left").select(
        F.col("s_suppkey").alias("almacen_externo_id"),
        coded_id("ALM-", "s_suppkey", 4).alias("codigo"),
        name_or_default("s_name", "Almacén ", "s_suppkey").alias("nombre"),
        F.coalesce(F.col("n_name"), F.lit("Sin País")).alias("pais"),
        F.lit(True).alias("activo"),
    )
    with_sk = _dense_sk(base, "almacen_externo_id", "almacen_id")
    default_row = literal_table(
        spark, [(1, -1, "ALM-0000", "Sin Almacén", "Sin País", False)],
        "almacen_id int, almacen_externo_id bigint, codigo string, nombre string, pais string, activo boolean",
    )
    cols = ["almacen_id", "almacen_externo_id", "codigo", "nombre", "pais", "activo"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


def build_dim_proveedor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier ⟕ nation ⟕ region → dim_proveedor
    (reference `complete_dimension_builder.py:863-908`)."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left").select(
        F.col("n_nationkey"), F.col("n_name"), F.col("r_name")
    )
    base = supplier.join(F.broadcast(geo), supplier["s_nationkey"] == geo["n_nationkey"], "left").select(
        F.col("s_suppkey").alias("proveedor_externo_id"),
        coded_id("PROV-", "s_suppkey", 4).alias("codigo"),
        name_or_default("s_name", "Proveedor ", "s_suppkey").alias("nombre"),
        F.coalesce(F.col("n_name"), F.lit("Sin País")).alias("pais"),
        F.coalesce(F.col("r_name"), F.lit("Sin Región")).alias("region"),
        pround2("s_acctbal").alias("saldo"),
        F.lit(True).alias("activo"),
    )
    with_sk = _dense_sk(base, "proveedor_externo_id", "proveedor_id")
    default_row = literal_table(
        spark, [(1, -1, "PROV-0000", "Sin Proveedor", "Sin País", "Sin Región", None, False)],
        "proveedor_id int, proveedor_externo_id bigint, codigo string, nombre string, pais string, "
        "region string, saldo decimal(15,2), activo boolean",
    )
    cols = ["proveedor_id", "proveedor_externo_id", "codigo", "nombre", "pais", "region", "saldo", "activo"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


# chart of accounts (reference FIXTURES.md cuentas_contables.csv; codes
# `complete_fact_builder.py:737-741`): code prefix 1=activo 2=pasivo
# 4=ingreso 5=costo 6=gasto; naturaleza deudora/acreedora
ACCOUNTS = [
    (1102, "Bancos", "activo", "deudora"),
    (1103, "Inventario", "activo", "deudora"),
    (2102, "IVA por Pagar", "pasivo", "acreedora"),
    (4101, "Ventas", "ingreso", "acreedora"),
    (5101, "Costo de Ventas", "costo", "deudora"),
    (6101, "Gastos de Operación", "gasto", "deudora"),
]


def build_dim_cuenta_contable(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Literal chart-of-accounts catalog (S8) + default member (U1)."""
    rows = [(i + 2, c, n, t, nat, True) for i, (c, n, t, nat) in enumerate(ACCOUNTS)]
    rows = [(1, 0, "Sin Cuenta", "na", "na", False)] + rows
    return literal_table(
        spark,
        rows,
        "cuenta_id int, codigo int, nombre string, tipo_cuenta string, naturaleza string, activa boolean",
    )


def build_dim_promocion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSONB-style extraction → dim_promocion (reference
    `complete_dimension_builder.py:765-817`): get_json_object + union with
    the default 'Sin Promoción' member."""
    events = load_table(spark, sf_dir, "events")
    promos = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.get_json_object("props", "$.k").cast("int").alias("promo_k"))
        .filter(F.col("promo_k").isNotNull())
        .distinct()
    )
    base = promos.select(
        F.col("promo_k").alias("promo_externo_id"),
        F.concat(F.lit("PROMO-"), F.lpad(F.col("promo_k").cast("string"), 4, "0")).alias("codigo"),
        F.concat(F.lit("Promoción "), F.col("promo_k").cast("string")).alias("nombre"),
        F.lit(True).alias("usa_cupones"),
    )
    with_sk = _dense_sk(base, "promo_externo_id", "promocion_id")
    default_row = literal_table(
        spark, [(1, -1, "PROMO-0000", "Sin Promoción", False)],
        "promocion_id int, promo_externo_id int, codigo string, nombre string, usa_cupones boolean",
    )
    cols = ["promocion_id", "promo_externo_id", "codigo", "nombre", "usa_cupones"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))
