"""Fact builders (reference SURVEY.md §3.2; `complete_fact_builder.py`).

fact_ventas is the flagship dataflow (grain join → dedup → measure
derivation → SK lookups → projection). The financial chain is staged:
fact_transacciones (journal explode) ⇒ fact_balance (debit/credit rollup +
running balance) ⇒ fact_estado_resultados (classification + pivot) —
the reference reads transacciones back from the DW between stages
(`complete_fact_builder.py:918-932`); here the caller materializes the
journal once and feeds it forward (plans/pipeline.py).

Monetary math: derived in double with round(...,2) at exactly the
reference's rounding points, then cast to DECIMAL(15,2) in the final
projection so downstream sums are exact and partition-order independent.

Scale notes: every join against a dimension is a broadcast (dims are
small); the only shuffles are the intended aggregations. venta_id is a
pure function of the natural key (orderkey*10+linenumber) instead of a
global row_number — dense-sequence semantics are a single-partition
bottleneck at 100 TB (SURVEY.md §7.4); asiento numbering on orders keeps
the reference's AST-%06d format via a key-derived dense-enough id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.dates import date_key, period_of_date_key
from data_warehouse_punta_fina_spark.functions.money import pround2
from data_warehouse_punta_fina_spark.operators.dedup import dedupe_by_grain
from data_warehouse_punta_fina_spark.operators.journal import COST_RATIO, explode_journal_entries
from data_warehouse_punta_fina_spark.operators.pivots import conditional_sum
from data_warehouse_punta_fina_spark.operators.sk_lookup import sk_lookup
from data_warehouse_punta_fina_spark.operators.windows import lag_prev, running_total
from data_warehouse_punta_fina_spark.sources.readers import load_table

IVA_FACTOR = 1.13
MONEY = "decimal(15,2)"


def build_fact_ventas(
    spark: SparkSession,
    sf_dir: str,
    dim_producto: DataFrame,
    dim_cliente: DataFrame,
    dim_almacen: DataFrame,
) -> DataFrame:
    """Flagship: order ⨝ line-item grain with measure derivation and SK
    lookups (reference `complete_fact_builder.py:198-556`).

    Steps mirror §3.2: (1) grain inner join with validity filters;
    (2) defensive dedup on the line natural key; (3) discount derivation
    (testdata carries l_discount directly — the reference's pre-aggregated
    discount join appears in q_discount_order_rollup); (4) IVA extraction
    at 13%; (5) broadcast SK lookups with default member 1; (6) fixed
    final projection + rounding pass.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # the synthetic source intentionally carries colliding (orderkey, lineno)
    # keys with different content — order by the full row so the survivor is
    # deterministic (reference keep-first follows its ORDER BY id intake).
    # Dedup runs BEFORE the join: the row-level filters (partkey, quantity)
    # are applied first so the survivor choice is identical to dedup-after-
    # join, while the order-side filter and the inner join only remove
    # whole (orderkey, lineno) groups — shuffling 10 lineitem columns
    # instead of the 16-column join output.
    line_filtered = lineitem.filter(F.col("l_partkey").isNotNull() & (F.col("l_quantity") > 0))
    line_dedup = dedupe_by_grain(
        line_filtered,
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
    grain = line_dedup.join(
        orders.filter(F.col("o_orderdate").isNotNull()),
        line_dedup["l_orderkey"] == orders["o_orderkey"],
        "inner",
    )

    measured = grain.select(
        (F.col("l_orderkey") * F.lit(10) + F.col("l_linenumber")).alias("venta_id"),
        F.col("l_orderkey").alias("orden_id"),
        F.col("l_linenumber").alias("linea"),
        date_key("o_orderdate").alias("fecha_id"),
        F.col("o_custkey").alias("cliente_externo_id"),
        F.col("l_partkey").alias("producto_externo_id"),
        F.col("l_suppkey").alias("almacen_externo_id"),
        pround2("l_quantity").alias("cantidad"),
        pround2(F.col("l_extendedprice") / F.col("l_quantity")).alias("precio_unitario"),
        pround2("l_extendedprice").alias("subtotal_bruto"),
        pround2(F.col("l_extendedprice") * F.col("l_discount")).alias("descuento"),
    )
    measured = (
        # decimal arithmetic from here: subtraction is exact, divisions go
        # through double + portable rounding (functions.money.pround2)
        measured.withColumn("subtotal_con_iva", F.col("subtotal_bruto") - F.col("descuento"))
        # IVA extraction: subtotal = incl/1.13, impuesto = incl - subtotal (`:309-318`)
        .withColumn("subtotal", pround2(F.col("subtotal_con_iva").cast("double") / F.lit(IVA_FACTOR)))
        .withColumn("impuesto", F.col("subtotal_con_iva") - F.col("subtotal"))
        .withColumn("total", F.col("subtotal_con_iva"))
        .withColumn("impuesto_id", F.when(F.col("impuesto") > 0, F.lit(1)).otherwise(F.lit(3)))
    )

    # SK lookups (J3) — broadcast dims, default member 1. The producto
    # lookup carries costo_estandar in the same broadcast join (the
    # reference's separate producto-costo lookup, `:353-388`) — one
    # BroadcastHashJoin against dim_producto instead of two.
    resolved = sk_lookup(
        measured, dim_cliente, "cliente_externo_id", sk="cliente_id", default=1
    )
    resolved = sk_lookup(
        resolved,
        dim_producto,
        "producto_externo_id",
        sk="producto_id",
        default=1,
        carry=["costo_estandar"],
    )
    resolved = sk_lookup(resolved, dim_almacen, "almacen_externo_id", sk="almacen_id", default=1)
    resolved = (
        resolved.withColumn(
            "costo_total",
            pround2(
                F.coalesce(F.col("costo_estandar").cast("double"), F.lit(0.0))
                * F.col("cantidad").cast("double")
            ),
        )
        .withColumn("margen", F.col("subtotal") - F.col("costo_total"))
    )

    return resolved.select(
        F.col("venta_id"),
        F.col("orden_id"),
        F.col("linea"),
        F.col("fecha_id"),
        F.col("cliente_id"),
        F.col("producto_id"),
        F.col("almacen_id"),
        F.col("impuesto_id"),
        F.col("cantidad").cast("decimal(10,2)").alias("cantidad"),
        F.col("precio_unitario").cast(MONEY).alias("precio_unitario"),
        F.col("subtotal_bruto").cast(MONEY).alias("subtotal_bruto"),
        F.col("descuento").cast(MONEY).alias("descuento"),
        F.col("subtotal").cast(MONEY).alias("subtotal"),
        F.col("impuesto").cast(MONEY).alias("impuesto"),
        F.col("total").cast(MONEY).alias("total"),
        F.col("costo_total").cast(MONEY).alias("costo_total"),
        F.col("margen").cast(MONEY).alias("margen"),
    )


# event_type → movement-code mapping (stand-in for the CSV's id_tipo_movimiento)
EVENT_TIPO_MAP = {
    "purchase": "MOV_ENTRADA",
    "click": "MOV_SALIDA_VENTA",
    "error": "MOV_AJUSTE_NEG",
    "signup": "MOV_DEVOLUCION",
    "view": "MOV_MERMA",
}


def build_fact_inventario(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → fact_inventario (reference `complete_fact_builder.py:558-646`):
    signed movement quantities + running stock per user (W1 on a second
    domain) + tipo_movimiento SK lookup with default member (J3).
    entrada = purchase/signup, salida = everything else."""
    from data_warehouse_punta_fina_spark.plans.dims_catalog import build_dim_tipo_movimiento

    events = load_table(spark, sf_dir, "events")
    tipo_expr = F.lit(None).cast("string")
    for ev, code in reversed(list(EVENT_TIPO_MAP.items())):
        tipo_expr = F.when(F.col("event_type") == ev, F.lit(code)).otherwise(tipo_expr)
    moves = events.withColumn("codigo", tipo_expr).select(
        F.col("event_id").alias("movimiento_id"),
        date_key(F.to_date("ts")).alias("fecha_id"),
        F.col("user_id").alias("usuario_externo_id"),
        F.col("event_type").alias("tipo_movimiento"),
        F.col("codigo"),
        # decimal BEFORE the window: a float running sum is accumulation-order
        # sensitive; decimal is exact under any partitioning/engine
        F.when(F.col("event_type").isin("purchase", "signup"), pround2("value"))
        .otherwise(-pround2("value"))
        .cast(MONEY)
        .alias("cantidad"),
    )
    dim_tipo = build_dim_tipo_movimiento(spark)
    moves = sk_lookup(
        moves, dim_tipo, "codigo", sk="tipo_movimiento_id", default=1
    ).drop("codigo")
    stocked = running_total(
        moves, "cantidad", partition_by="usuario_externo_id", order_by=["fecha_id", "movimiento_id"], out="stock_resultante"
    )
    stocked = lag_prev(
        stocked,
        "stock_resultante",
        partition_by="usuario_externo_id",
        order_by=["fecha_id", "movimiento_id"],
        default=0,
        out="stock_anterior",
    )
    return stocked.select(
        "movimiento_id",
        "fecha_id",
        "usuario_externo_id",
        "tipo_movimiento",
        "tipo_movimiento_id",
        F.col("cantidad").cast(MONEY).alias("cantidad"),
        F.col("stock_anterior").cast(MONEY).alias("stock_anterior"),
        F.col("stock_resultante").cast(MONEY).alias("stock_resultante"),
    )


def build_fact_transacciones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → double-entry journal via array+explode (§2.9; reference
    `complete_fact_builder.py:648-906`). 3-5 rows per order; Σdébitos =
    Σcréditos by construction (total = subtotal + iva)."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("orden_id"),
        F.format_string("AST-%08d", F.col("o_orderkey")).alias("numero_asiento"),
        date_key("o_orderdate").alias("fecha_id"),
        pround2("o_totalprice").alias("total"),
    )
    base = (
        base.withColumn("subtotal", pround2(F.col("total").cast("double") / F.lit(IVA_FACTOR)))
        .withColumn("iva", F.col("total") - F.col("subtotal"))
        .withColumn("costo", pround2(F.col("subtotal").cast("double") * F.lit(COST_RATIO)))
    )
    journal = explode_journal_entries(base)
    journal = journal.withColumn("periodo_id", period_of_date_key("fecha_id"))
    return journal.select(
        "orden_id",
        "numero_asiento",
        "fecha_id",
        "periodo_id",
        "cuenta_id",
        "tipo_movimiento",
        F.col("monto").cast(MONEY).alias("monto"),
        "descripcion",
    )


def build_fact_balance(journal: DataFrame, dim_cuenta: DataFrame) -> DataFrame:
    """Ledger rollup per periodo×cuenta + cumulative balance (reference
    `complete_fact_builder.py:908-1009`): A5 conditional sums, W1 running
    total, W2 prior-period opening balance. Net sign follows the account's
    naturaleza (deudora: débitos−créditos; acreedora: créditos−débitos)."""
    rolled = journal.groupBy("periodo_id", "cuenta_id").agg(
        conditional_sum("tipo_movimiento", "DEBITO", "monto", "debitos"),
        conditional_sum("tipo_movimiento", "CREDITO", "monto", "creditos"),
    )
    nat = dim_cuenta.select(F.col("codigo").alias("cuenta_id"), "naturaleza")
    signed = rolled.join(F.broadcast(nat), "cuenta_id", "left").withColumn(
        "movimiento_neto",
        F.when(F.col("naturaleza") == "acreedora", F.col("creditos") - F.col("debitos")).otherwise(
            F.col("debitos") - F.col("creditos")
        ),
    )
    signed = running_total(signed, "movimiento_neto", "cuenta_id", "periodo_id", out="saldo_final")
    signed = lag_prev(signed, "saldo_final", "cuenta_id", "periodo_id", default=0, out="saldo_inicial")
    return signed.select(
        "periodo_id",
        "cuenta_id",
        F.col("debitos").cast(MONEY).alias("debitos"),
        F.col("creditos").cast(MONEY).alias("creditos"),
        F.col("movimiento_neto").cast(MONEY).alias("movimiento_neto"),
        F.col("saldo_inicial").cast(MONEY).alias("saldo_inicial"),
        F.col("saldo_final").cast(MONEY).alias("saldo_final"),
    )


def build_fact_estado_resultados(journal: DataFrame) -> DataFrame:
    """Monthly P&L (reference `complete_fact_builder.py:1011-1232`):
    classify accounts by code prefix (4→ingreso créditos, 5→costo débitos,
    6→gasto débitos), pivot to columns per period (A6), derive utilidad,
    drop all-zero rows (P6)."""
    first = F.substring(F.col("cuenta_id").cast("string"), 1, 1)
    classified = journal.withColumn(
        "tipo_cuenta",
        F.when(first == "4", "ingreso").when(first == "5", "costo").when(first == "6", "gasto"),
    ).filter(F.col("tipo_cuenta").isNotNull())
    signed = classified.withColumn(
        "monto_clasificado",
        F.when(
            F.col("tipo_cuenta") == "ingreso",
            F.when(F.col("tipo_movimiento") == "CREDITO", F.col("monto")).otherwise(-F.col("monto")),
        ).otherwise(
            F.when(F.col("tipo_movimiento") == "DEBITO", F.col("monto")).otherwise(-F.col("monto"))
        ),
    )
    pivoted = (
        signed.groupBy("periodo_id")
        .pivot("tipo_cuenta", ["ingreso", "costo", "gasto"])
        .agg(F.sum("monto_clasificado"))
        .na.fill(0, ["ingreso", "costo", "gasto"])
        .withColumnRenamed("ingreso", "ingresos")
        .withColumnRenamed("costo", "costos")
        .withColumnRenamed("gasto", "gastos")
    )
    out = (
        pivoted.withColumn("utilidad_bruta", F.col("ingresos") - F.col("costos"))
        .withColumn("utilidad_neta", F.col("utilidad_bruta") - F.col("gastos"))
        .filter((F.col("ingresos") != 0) | (F.col("costos") != 0) | (F.col("gastos") != 0))
    )
    return out.select(
        "periodo_id",
        F.col("ingresos").cast(MONEY).alias("ingresos"),
        F.col("costos").cast(MONEY).alias("costos"),
        F.col("gastos").cast(MONEY).alias("gastos"),
        F.col("utilidad_bruta").cast(MONEY).alias("utilidad_bruta"),
        F.col("utilidad_neta").cast(MONEY).alias("utilidad_neta"),
    )
