"""Legacy/optional dimension set (reference SURVEY.md §1.5 second list:
`complete_dimension_builder.py:405-743`): dim_sitio_web, dim_canal,
dim_direccion, dim_detalle_venta (≡ dim_line_item at our grain),
dim_estado_pago, dim_pago. Completes the reference's full catalog."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.strings import name_or_default
from data_warehouse_punta_fina_spark.operators.dedup import dedupe_by_grain
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table


def build_dim_direccion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⟕ nation ⟕ region → dim_direccion (reference `:480-502`):
    CONCAT_WS(', ', street, city, region, country) full-address string;
    street synthesized deterministically from the customer key."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    geo = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
    base = customer.join(F.broadcast(geo), customer["c_nationkey"] == geo["n_nationkey"], "left").select(
        F.col("c_custkey").alias("cliente_externo_id"),
        F.concat(F.lit("Calle "), F.col("c_custkey").cast("string")).alias("calle"),
        F.coalesce(F.col("n_name"), F.lit("Sin Ciudad")).alias("ciudad"),
        F.coalesce(F.col("r_name"), F.lit("Sin Región")).alias("region"),
    )
    base = base.withColumn(
        "direccion_completa", F.concat_ws(", ", "calle", "ciudad", "region")
    )
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    ranked = ranked_sequential_id(base, "cliente_externo_id", out="direccion_id", start=1)
    return ranked.withColumn("direccion_id", F.col("direccion_id").cast("int")).select(
        "direccion_id", "cliente_externo_id", "calle", "ciudad", "region", "direccion_completa"
    )


def build_dim_detalle_venta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deduped lineitem ⟕ part → dim_detalle_venta (reference `:584-619`,
    ≡ dim_line_item `:543-582`): SKU codes + description fallback. The
    line id is key-derived (orderkey·10+linenumber) — dense 1..n ids are a
    single-partition bottleneck at scale (SURVEY.md §7.4)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ded = dedupe_by_grain(
        li,
        ["l_orderkey", "l_linenumber"],
        [
            F.col("l_partkey"),
            F.col("l_suppkey"),
            F.col("l_quantity"),
            F.col("l_extendedprice"),
            F.col("l_discount"),
            F.col("l_tax"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.col("l_shipdate"),
        ],
    )
    return ded.join(F.broadcast(part), ded["l_partkey"] == part["p_partkey"], "left").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("detalle_id"),
        F.col("l_orderkey").alias("orden_id"),
        F.col("l_linenumber").alias("linea"),
        F.concat(F.lit("SKU-"), F.lpad(F.col("l_partkey").cast("string"), 8, "0")).alias("codigo"),
        name_or_default("p_name", "Detalle ", "l_partkey").alias("descripcion"),
    )


CANALES = [
    ("WEB", "Tienda en Línea", "online"),
    ("TIENDA", "Tienda Física", "retail"),
    ("DISTRIBUIDOR", "Canal Mayorista", "wholesale"),
    ("TELEFONO", "Ventas Telefónicas", "direct"),
]

ESTADOS_PAGO = [
    ("pending", "Pendiente", False),
    ("authorized", "Autorizado", False),
    ("paid_partially", "Pago Parcial", False),
    ("paid_in_full", "Pagado", True),
    ("refunded", "Reembolsado", True),
    ("declined", "Rechazado", True),
]

METODOS_PAGO = [
    ("EFECTIVO", "Efectivo", False, 0),
    ("TARJETA_CREDITO", "Tarjeta de Crédito", True, 2),
    ("TARJETA_DEBITO", "Tarjeta de Débito", True, 1),
    ("TRANSFERENCIA", "Transferencia Bancaria", True, 3),
    ("CHEQUE", "Cheque", True, 5),
]

SITIOS_WEB = [
    ("PF_SV", "puntafina.sv", "production"),
    ("PF_STAGE", "stage.puntafina.sv", "staging"),
]


def build_dim_canal(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Literal channel catalog + default member (reference `:441-478`)."""
    rows = [(i + 2, c, n, t, True) for i, (c, n, t) in enumerate(CANALES)]
    rows = [(1, "SIN_CANAL", "Sin Canal", "na", False)] + rows
    return literal_table(
        spark, rows, "canal_id int, codigo string, nombre string, tipo string, activo boolean"
    )


def build_dim_estado_pago(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Payment-status catalog (reference `:673-694`)."""
    rows = [(i + 1, c, n, f) for i, (c, n, f) in enumerate(ESTADOS_PAGO)]
    return literal_table(
        spark, rows, "estado_pago_id int, codigo string, nombre string, es_final boolean"
    )


def build_dim_pago(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Payment-method catalog (reference `:696-743`)."""
    rows = [(i + 1, c, n, v, int(d)) for i, (c, n, v, d) in enumerate(METODOS_PAGO)]
    return literal_table(
        spark,
        rows,
        "pago_id int, metodo_pago string, nombre string, requiere_validacion boolean, plazo_dias int",
    )


def build_dim_sitio_web(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Web-site catalog (reference `:405-439`)."""
    rows = [(i + 1, c, u, e) for i, (c, u, e) in enumerate(SITIOS_WEB)]
    return literal_table(spark, rows, "sitio_web_id int, codigo string, url string, entorno string")
