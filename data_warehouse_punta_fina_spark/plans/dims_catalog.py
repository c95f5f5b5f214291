"""Catalog dimensions completing the reference's dim list (SURVEY.md §1.5).

Literal/CSV-catalog dims (S8: `complete_dimension_builder.py:700-761`,
FIXTURES.md §B) plus derived dims: dim_orden (from orders),
dim_categoria_producto (distinct categories), dim_periodo_contable
(generated monthly periods, `complete_dimension_builder.py:1138-1171`),
dim_envio (regex time-extraction, `:623-653`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.dates import date_key
from data_warehouse_punta_fina_spark.functions.money import pround2
from data_warehouse_punta_fina_spark.functions.strings import extract_int
from data_warehouse_punta_fina_spark.sources.generators import literal_table, monthly_periods
from data_warehouse_punta_fina_spark.sources.readers import load_table


def build_dim_orden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → dim_orden (reference `complete_dimension_builder.py:504-541`):
    ORD- number fallback, status/priority decoding, USD default currency."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("orden_id"),
        F.concat(F.lit("ORD-"), F.col("o_orderkey").cast("string")).alias("numero_orden"),
        date_key("o_orderdate").alias("fecha_id"),
        F.when(F.col("o_orderstatus") == "O", "abierta")
        .when(F.col("o_orderstatus") == "F", "completada")
        .when(F.col("o_orderstatus") == "P", "pendiente")
        .otherwise("desconocido")
        .alias("estado"),
        extract_int("o_orderpriority").alias("prioridad_nivel"),
        F.coalesce(
            F.nullif(F.trim(F.element_at(F.split("o_orderpriority", "-"), 2)), F.lit("")),
            F.lit("SIN PRIORIDAD"),
        ).alias("prioridad"),
        F.lit("USD").alias("moneda"),
        pround2("o_totalprice").alias("total"),
    )


def build_dim_categoria_producto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct product categories (reference `complete_dimension_builder.py:945-1006`)."""
    part = load_table(spark, sf_dir, "part")
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    cats = part.select(F.col("p_type").alias("nombre")).filter(F.col("nombre").isNotNull()).distinct()
    with_sk = (
        ranked_sequential_id(cats, "nombre", out="categoria_id", start=2)
        .withColumn("categoria_id", F.col("categoria_id").cast("int"))
        .withColumn("activa", F.lit(True))
    )
    default_row = literal_table(
        spark, [(1, "Sin Categoría", False)], "categoria_id int, nombre string, activa boolean"
    )
    cols = ["categoria_id", "nombre", "activa"]
    return default_row.select(*cols).unionByName(with_sk.select(*cols))


def build_dim_periodo_contable(
    spark: SparkSession, sf_dir: str | None = None, start: str = "1995-01-01", end: str = "2005-12-31"
) -> DataFrame:
    """Generated monthly accounting periods
    (reference `complete_dimension_builder.py:1138-1171`)."""
    mp = monthly_periods(spark, start, end)
    return mp.select(
        "periodo_id",
        F.floor(F.col("periodo_id") / 100).cast("int").alias("anio"),
        (F.col("periodo_id") % 100).cast("int").alias("mes"),
        "fecha_inicio",
        "fecha_fin",
        F.dayofmonth("fecha_fin").alias("dias_en_mes"),
        # explicit floor: double→int CAST truncates in Spark but rounds in
        # some engines — floor is unambiguous everywhere
        (F.floor(((F.col("periodo_id") % 100) - 1) / 3) + 1).cast("int").alias("trimestre"),
    )


# FIXTURES.md §B catalog tables (values representative of the reference's CSVs)
TIPOS_MOVIMIENTO = [
    ("MOV_ENTRADA", "Entrada por Compra", "entrada", "suma"),
    ("MOV_SALIDA_VENTA", "Salida por Venta", "salida", "resta"),
    ("MOV_AJUSTE_POS", "Ajuste Positivo", "ajuste", "suma"),
    ("MOV_AJUSTE_NEG", "Ajuste Negativo", "ajuste", "resta"),
    ("MOV_DEVOLUCION", "Devolución de Cliente", "entrada", "suma"),
    ("MOV_TRASLADO_IN", "Traslado Entrada", "traslado", "suma"),
    ("MOV_TRASLADO_OUT", "Traslado Salida", "traslado", "resta"),
    ("MOV_MERMA", "Merma", "salida", "resta"),
    ("MOV_INICIAL", "Inventario Inicial", "entrada", "suma"),
]

CENTROS_COSTO = [
    ("CC_TIENDA_01", "Tienda Centro Comercial Metrocentro", "ventas"),
    ("CC_TIENDA_02", "Tienda Plaza Mundo", "ventas"),
    ("CC_ONLINE", "Canal Digital", "ventas"),
    ("CC_BODEGA", "Bodega Central", "logistica"),
    ("CC_ADMIN", "Administración", "administracion"),
]

TIPOS_TRANSACCION = [
    ("TRX_VENTA", "Registro de Venta", "ingreso"),
    ("TRX_COMPRA", "Registro de Compra", "egreso"),
    ("TRX_PAGO", "Pago a Proveedor", "egreso"),
    ("TRX_COBRO", "Cobro a Cliente", "ingreso"),
    ("TRX_AJUSTE", "Ajuste Contable", "ajuste"),
]

IMPUESTOS = [
    (1, "IVA", "Impuesto al Valor Agregado", 13.00),
    (2, "RENTA", "Retención de Renta", 10.00),
    (3, "EXENTO", "Exento de Impuestos", 0.00),
]

ESTADOS_ORDEN = [
    (1, "open", "Abierta", 1, False),
    (2, "processing", "En Proceso", 2, False),
    (3, "shipped", "Enviada", 3, False),
    (4, "delivered", "Entregada", 4, True),
    (5, "cancelled", "Cancelada", 5, True),
]

METODOS_ENVIO = [
    ("ENV001", "Entrega Express", "1-2 días hábiles", 5.99),
    ("ENV002", "Entrega Estándar", "3-5 días hábiles", 2.99),
    ("ENV003", "Entrega Económica", "5-7 días hábiles", 0.99),
    ("ENV004", "Retiro en Tienda", "0 días", 0.00),
]


def build_dim_tipo_movimiento(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    rows = [(i + 2, c, n, cat, af, True) for i, (c, n, cat, af) in enumerate(TIPOS_MOVIMIENTO)]
    rows = [(1, "SIN_MOV", "Sin Tipo", "na", "na", False)] + rows
    return literal_table(
        spark,
        rows,
        "tipo_movimiento_id int, codigo string, nombre string, categoria string, "
        "afecta_stock string, activo boolean",
    )


def build_dim_centro_costo(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    rows = [(i + 2, c, n, t, True) for i, (c, n, t) in enumerate(CENTROS_COSTO)]
    rows = [(1, "SIN_CC", "Sin Centro", "na", False)] + rows
    return literal_table(
        spark, rows, "centro_costo_id int, codigo string, nombre string, tipo_centro string, activo boolean"
    )


def build_dim_tipo_transaccion(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Includes the VENTA-code selection rule the journal builder uses
    (case-insensitive contains, reference `complete_fact_builder.py:744-754`)."""
    rows = [(i + 2, c, n, cat, True) for i, (c, n, cat) in enumerate(TIPOS_TRANSACCION)]
    rows = [(1, "SIN_TRX", "Sin Tipo", "na", False)] + rows
    df = literal_table(
        spark, rows, "tipo_transaccion_id int, codigo string, nombre string, categoria string, activo boolean"
    )
    return df.withColumn("es_venta", F.upper(F.col("codigo")).contains("VENTA"))


def build_dim_impuestos(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    rows = [(i, c, n, float(t), True) for i, c, n, t in IMPUESTOS]
    return literal_table(
        spark, rows, "impuesto_id int, codigo string, nombre string, tasa_raw double, activo boolean"
    ).select(
        "impuesto_id",
        "codigo",
        "nombre",
        pround2("tasa_raw").cast("decimal(5,2)").alias("tasa"),
        "activo",
    )


def build_dim_estado_orden(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    rows = [(i, c, n, o, fin) for i, c, n, o, fin in ESTADOS_ORDEN]
    return literal_table(
        spark,
        rows,
        "estado_orden_id int, codigo_estado string, nombre_estado string, orden_flujo int, "
        "es_estado_final boolean",
    )


def build_dim_envio(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Shipping-method dim with regex numeric extraction: '5-7 días' → 5
    (reference `complete_dimension_builder.py:623-653`)."""
    rows = [(i + 1, c, n, t, float(cost)) for i, (c, n, t, cost) in enumerate(METODOS_ENVIO)]
    df = literal_table(
        spark,
        rows, "envio_id int, codigo string, metodo_envio string, tiempo_entrega string, costo_raw double"
    )
    return df.select(
        "envio_id",
        "codigo",
        "metodo_envio",
        "tiempo_entrega",
        extract_int("tiempo_entrega").alias("dias_entrega_min"),
        pround2("costo_raw").alias("costo"),
    )
