"""Star-schema queries: the dims and facts of the warehouse, the catalog
dims, SCD variants and the dimensional rollups over the memoized fact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.plans import dims_catalog, dims_legacy
from data_warehouse_punta_fina_spark.plans.dims import (
    build_dim_almacen,
    build_dim_cliente,
    build_dim_cuenta_contable,
    build_dim_fecha,
    build_dim_producto,
    build_dim_promocion,
    build_dim_proveedor,
    build_dim_usuario,
)
from data_warehouse_punta_fina_spark.plans.facts import (
    build_fact_balance,
    build_fact_estado_resultados,
    build_fact_inventario,
    build_fact_transacciones,
    build_fact_ventas,
)
from data_warehouse_punta_fina_spark.registry.shared import _r2, query, sql_of
from data_warehouse_punta_fina_spark.sources.generators import literal_table
from data_warehouse_punta_fina_spark.sources.readers import load_table


_SPANISH_DAY_CASE = (
    "CASE isodow(fecha) WHEN 1 THEN 'Lunes' WHEN 2 THEN 'Martes' WHEN 3 THEN 'Miércoles' "
    "WHEN 4 THEN 'Jueves' WHEN 5 THEN 'Viernes' WHEN 6 THEN 'Sábado' ELSE 'Domingo' END"
)
_SPANISH_MONTH_CASE = (
    "CASE month(fecha) WHEN 1 THEN 'Enero' WHEN 2 THEN 'Febrero' WHEN 3 THEN 'Marzo' "
    "WHEN 4 THEN 'Abril' WHEN 5 THEN 'Mayo' WHEN 6 THEN 'Junio' WHEN 7 THEN 'Julio' "
    "WHEN 8 THEN 'Agosto' WHEN 9 THEN 'Septiembre' WHEN 10 THEN 'Octubre' "
    "WHEN 11 THEN 'Noviembre' ELSE 'Diciembre' END"
)

query(f"""
WITH days AS (
  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2005-12-31', INTERVAL 1 DAY)) AS DATE) AS fecha
)
SELECT CAST(strftime(fecha, '%Y%m%d') AS INT) AS fecha_id, fecha,
       CAST(year(fecha) AS INT) AS anio, CAST(month(fecha) AS INT) AS mes,
       CAST(day(fecha) AS INT) AS dia, CAST(quarter(fecha) AS INT) AS trimestre,
       CAST(weekofyear(fecha) AS INT) AS semana, CAST(isodow(fecha) AS INT) AS dia_semana,
       {_SPANISH_DAY_CASE} AS nombre_dia, {_SPANISH_MONTH_CASE} AS nombre_mes,
       isodow(fecha) IN (6, 7) AS es_fin_semana
FROM days
""", name="dim_fecha")(build_dim_fecha)
query(f"""
SELECT CAST(1 AS INT) AS producto_id, CAST(-1 AS BIGINT) AS producto_externo_id,
       'PRD-00000000' AS codigo, 'Sin Producto' AS nombre, 'Sin Marca' AS marca,
       'Sin Categoría' AS categoria, CAST(0 AS INT) AS talla,
       CAST(NULL AS DECIMAL(15,2)) AS precio_base, CAST(NULL AS DECIMAL(15,2)) AS costo_estandar,
       FALSE AS activo, CAST(NULL AS DECIMAL(10,2)) AS margen_pct
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY p_partkey) AS INT),
       p_partkey,
       'PRD-' || lpad(CAST(p_partkey AS VARCHAR), 8, '0'),
       COALESCE(NULLIF(TRIM(p_name), ''), 'Producto ' || CAST(p_partkey AS VARCHAR)),
       string_split(p_brand, '#')[1],
       COALESCE(p_type, 'Sin Categoría'),
       p_size,
       {_r2("p_retailprice")},
       {_r2("p_retailprice * 0.4")},
       TRUE,
       {"CAST(FLOOR(((CAST(" + _r2("p_retailprice") + " AS DOUBLE) - CAST(" + _r2("p_retailprice * 0.4") + " AS DOUBLE)) / CAST(" + _r2("p_retailprice") + " AS DOUBLE) * 100) * 100 + 0.5) / 100 AS DECIMAL(10,2))"}
FROM part
""", dec=["precio_base", "costo_estandar", "margen_pct"], name="dim_producto")(build_dim_producto)
query(f"""
SELECT CAST(1 AS INT) AS cliente_id, CAST(-1 AS BIGINT) AS cliente_externo_id,
       'CLI-000000' AS codigo, 'Sin Cliente' AS nombre, 'Sin Segmento' AS segmento,
       'Sin País' AS pais, CAST(NULL AS DECIMAL(15,2)) AS saldo, FALSE AS activo
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT),
       c_custkey,
       'CLI-' || lpad(CAST(c_custkey AS VARCHAR), 6, '0'),
       COALESCE(NULLIF(TRIM(c_name), ''), 'Cliente ' || CAST(c_custkey AS VARCHAR)),
       COALESCE(c_mktsegment, 'Sin Segmento'),
       COALESCE(n_name, 'Sin País'),
       {_r2("c_acctbal")},
       TRUE
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
""", dec=["saldo"], name="dim_cliente")(build_dim_cliente)
query("""
SELECT CAST(1 AS INT) AS usuario_id, CAST(-1 AS BIGINT) AS usuario_externo_id,
       'sin_usuario' AS username, 'sin_usuario@puntafina.sv' AS email, 'Sin Usuario' AS nombre_completo
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY user_id) AS INT), user_id,
       'user' || CAST(user_id AS VARCHAR),
       'user' || CAST(user_id AS VARCHAR) || '@puntafina.sv',
       'user' || CAST(user_id AS VARCHAR)
FROM (SELECT DISTINCT user_id FROM events)
""", name="dim_usuario")(build_dim_usuario)
query("""
SELECT CAST(1 AS INT) AS almacen_id, CAST(-1 AS BIGINT) AS almacen_externo_id,
       'ALM-0000' AS codigo, 'Sin Almacén' AS nombre, 'Sin País' AS pais, FALSE AS activo
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS INT),
       s_suppkey,
       'ALM-' || lpad(CAST(s_suppkey AS VARCHAR), 4, '0'),
       COALESCE(NULLIF(TRIM(s_name), ''), 'Almacén ' || CAST(s_suppkey AS VARCHAR)),
       COALESCE(n_name, 'Sin País'),
       TRUE
FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
""", name="dim_almacen")(build_dim_almacen)
query(f"""
SELECT CAST(1 AS INT) AS proveedor_id, CAST(-1 AS BIGINT) AS proveedor_externo_id,
       'PROV-0000' AS codigo, 'Sin Proveedor' AS nombre, 'Sin País' AS pais,
       'Sin Región' AS region, CAST(NULL AS DECIMAL(15,2)) AS saldo, FALSE AS activo
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS INT),
       s_suppkey,
       'PROV-' || lpad(CAST(s_suppkey AS VARCHAR), 4, '0'),
       COALESCE(NULLIF(TRIM(s_name), ''), 'Proveedor ' || CAST(s_suppkey AS VARCHAR)),
       COALESCE(n_name, 'Sin País'),
       COALESCE(r_name, 'Sin Región'),
       {_r2("s_acctbal")},
       TRUE
FROM supplier
LEFT JOIN nation ON s_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
""", dec=["saldo"], name="dim_proveedor")(build_dim_proveedor)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), CAST(0 AS INT), 'Sin Cuenta', 'na', 'na', FALSE),
  (2, 1102, 'Bancos', 'activo', 'deudora', TRUE),
  (3, 1103, 'Inventario', 'activo', 'deudora', TRUE),
  (4, 2102, 'IVA por Pagar', 'pasivo', 'acreedora', TRUE),
  (5, 4101, 'Ventas', 'ingreso', 'acreedora', TRUE),
  (6, 5101, 'Costo de Ventas', 'costo', 'deudora', TRUE),
  (7, 6101, 'Gastos de Operación', 'gasto', 'deudora', TRUE)
) AS t(cuenta_id, codigo, nombre, tipo_cuenta, naturaleza, activa)
""", name="dim_cuenta_contable")(build_dim_cuenta_contable)
query("""
WITH promos AS (
  SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS INT) AS promo_k
  FROM events
  WHERE event_type = 'purchase' AND json_extract_string(props, '$.k') IS NOT NULL
)
SELECT CAST(1 AS INT) AS promocion_id, CAST(-1 AS INT) AS promo_externo_id,
       'PROMO-0000' AS codigo, 'Sin Promoción' AS nombre, FALSE AS usa_cupones
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY promo_k) AS INT), promo_k,
       'PROMO-' || lpad(CAST(promo_k AS VARCHAR), 4, '0'),
       'Promoción ' || CAST(promo_k AS VARCHAR), TRUE
FROM promos
""", name="dim_promocion")(build_dim_promocion)
query(f"""
WITH m AS (
  SELECT event_id AS movimiento_id,
         CAST(strftime(CAST(ts AS DATE), '%Y%m%d') AS INT) AS fecha_id,
         user_id AS usuario_externo_id,
         event_type AS tipo_movimiento,
         CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 3 WHEN 'error' THEN 5
              WHEN 'signup' THEN 6 WHEN 'view' THEN 9 ELSE 1 END AS tipo_movimiento_id,
         CAST(CASE WHEN event_type IN ('purchase', 'signup') THEN {_r2("value")}
                   ELSE -{_r2("value")} END AS DECIMAL(15,2)) AS cantidad
  FROM events
), w AS (
  SELECT *, SUM(cantidad) OVER (
           PARTITION BY usuario_externo_id ORDER BY fecha_id, movimiento_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS stock_resultante
  FROM m
)
SELECT movimiento_id, fecha_id, usuario_externo_id, tipo_movimiento, tipo_movimiento_id, cantidad,
       CAST(COALESCE(LAG(stock_resultante) OVER (
              PARTITION BY usuario_externo_id ORDER BY fecha_id, movimiento_id), 0) AS DECIMAL(15,2)) AS stock_anterior,
       CAST(stock_resultante AS DECIMAL(15,2)) AS stock_resultante
FROM w
""",
    dec=["cantidad", "stock_anterior", "stock_resultante"],
    name="fact_inventario",
)(build_fact_inventario)
query(f"""
SELECT o_orderkey AS orden_id,
       'ORD-' || CAST(o_orderkey AS VARCHAR) AS numero_orden,
       CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS fecha_id,
       CASE o_orderstatus WHEN 'O' THEN 'abierta' WHEN 'F' THEN 'completada'
            WHEN 'P' THEN 'pendiente' ELSE 'desconocido' END AS estado,
       CAST(regexp_extract(o_orderpriority, '(\\d+)', 1) AS INT) AS prioridad_nivel,
       COALESCE(NULLIF(TRIM(string_split(o_orderpriority, '-')[2]), ''), 'SIN PRIORIDAD') AS prioridad,
       'USD' AS moneda,
       {_r2("o_totalprice")} AS total
FROM orders
""", dec=["total"], name="dim_orden")(dims_catalog.build_dim_orden)
query("""
SELECT CAST(1 AS INT) AS categoria_id, 'Sin Categoría' AS nombre, FALSE AS activa
UNION ALL
SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY nombre) AS INT), nombre, TRUE
FROM (SELECT DISTINCT p_type AS nombre FROM part WHERE p_type IS NOT NULL)
""", name="dim_categoria_producto")(dims_catalog.build_dim_categoria_producto)
query("""
WITH months AS (
  SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '2005-12-01', INTERVAL 1 MONTH)) AS DATE) AS inicio
)
SELECT CAST(strftime(inicio, '%Y%m') AS INT) AS periodo_id,
       CAST(year(inicio) AS INT) AS anio, CAST(month(inicio) AS INT) AS mes,
       inicio AS fecha_inicio, last_day(inicio) AS fecha_fin,
       CAST(day(last_day(inicio)) AS INT) AS dias_en_mes,
       CAST(FLOOR((month(inicio) - 1) / 3) + 1 AS INT) AS trimestre
FROM months
""", name="dim_periodo_contable")(dims_catalog.build_dim_periodo_contable)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'SIN_MOV', 'Sin Tipo', 'na', 'na', FALSE),
  (2, 'MOV_ENTRADA', 'Entrada por Compra', 'entrada', 'suma', TRUE),
  (3, 'MOV_SALIDA_VENTA', 'Salida por Venta', 'salida', 'resta', TRUE),
  (4, 'MOV_AJUSTE_POS', 'Ajuste Positivo', 'ajuste', 'suma', TRUE),
  (5, 'MOV_AJUSTE_NEG', 'Ajuste Negativo', 'ajuste', 'resta', TRUE),
  (6, 'MOV_DEVOLUCION', 'Devolución de Cliente', 'entrada', 'suma', TRUE),
  (7, 'MOV_TRASLADO_IN', 'Traslado Entrada', 'traslado', 'suma', TRUE),
  (8, 'MOV_TRASLADO_OUT', 'Traslado Salida', 'traslado', 'resta', TRUE),
  (9, 'MOV_MERMA', 'Merma', 'salida', 'resta', TRUE),
  (10, 'MOV_INICIAL', 'Inventario Inicial', 'entrada', 'suma', TRUE)
) AS t(tipo_movimiento_id, codigo, nombre, categoria, afecta_stock, activo)
""", name="dim_tipo_movimiento")(dims_catalog.build_dim_tipo_movimiento)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'SIN_CC', 'Sin Centro', 'na', FALSE),
  (2, 'CC_TIENDA_01', 'Tienda Centro Comercial Metrocentro', 'ventas', TRUE),
  (3, 'CC_TIENDA_02', 'Tienda Plaza Mundo', 'ventas', TRUE),
  (4, 'CC_ONLINE', 'Canal Digital', 'ventas', TRUE),
  (5, 'CC_BODEGA', 'Bodega Central', 'logistica', TRUE),
  (6, 'CC_ADMIN', 'Administración', 'administracion', TRUE)
) AS t(centro_costo_id, codigo, nombre, tipo_centro, activo)
""", name="dim_centro_costo")(dims_catalog.build_dim_centro_costo)
query("""
SELECT *, contains(upper(codigo), 'VENTA') AS es_venta FROM (VALUES
  (CAST(1 AS INT), 'SIN_TRX', 'Sin Tipo', 'na', FALSE),
  (2, 'TRX_VENTA', 'Registro de Venta', 'ingreso', TRUE),
  (3, 'TRX_COMPRA', 'Registro de Compra', 'egreso', TRUE),
  (4, 'TRX_PAGO', 'Pago a Proveedor', 'egreso', TRUE),
  (5, 'TRX_COBRO', 'Cobro a Cliente', 'ingreso', TRUE),
  (6, 'TRX_AJUSTE', 'Ajuste Contable', 'ajuste', TRUE)
) AS t(tipo_transaccion_id, codigo, nombre, categoria, activo)
""", name="dim_tipo_transaccion")(dims_catalog.build_dim_tipo_transaccion)
query(f"""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'IVA', 'Impuesto al Valor Agregado', CAST({_r2("13.00")} AS DECIMAL(5,2)), TRUE),
  (2, 'RENTA', 'Retención de Renta', CAST({_r2("10.00")} AS DECIMAL(5,2)), TRUE),
  (3, 'EXENTO', 'Exento de Impuestos', CAST({_r2("0.00")} AS DECIMAL(5,2)), TRUE)
) AS t(impuesto_id, codigo, nombre, tasa, activo)
""", dec=["tasa"], name="dim_impuestos")(dims_catalog.build_dim_impuestos)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'open', 'Abierta', 1, FALSE),
  (2, 'processing', 'En Proceso', 2, FALSE),
  (3, 'shipped', 'Enviada', 3, FALSE),
  (4, 'delivered', 'Entregada', 4, TRUE),
  (5, 'cancelled', 'Cancelada', 5, TRUE)
) AS t(estado_orden_id, codigo_estado, nombre_estado, orden_flujo, es_estado_final)
""", name="dim_estado_orden")(dims_catalog.build_dim_estado_orden)
query(f"""
SELECT envio_id, codigo, metodo_envio, tiempo_entrega,
       CAST(regexp_extract(tiempo_entrega, '(\\d+)', 1) AS INT) AS dias_entrega_min,
       {_r2("costo_raw")} AS costo
FROM (VALUES
  (CAST(1 AS INT), 'ENV001', 'Entrega Express', '1-2 días hábiles', 5.99),
  (2, 'ENV002', 'Entrega Estándar', '3-5 días hábiles', 2.99),
  (3, 'ENV003', 'Entrega Económica', '5-7 días hábiles', 0.99),
  (4, 'ENV004', 'Retiro en Tienda', '0 días', 0.00)
) AS t(envio_id, codigo, metodo_envio, tiempo_entrega, costo_raw)
""", dec=["costo"], name="dim_envio")(dims_catalog.build_dim_envio)
query("""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT) AS direccion_id,
       c_custkey AS cliente_externo_id,
       'Calle ' || CAST(c_custkey AS VARCHAR) AS calle,
       COALESCE(n_name, 'Sin Ciudad') AS ciudad,
       COALESCE(r_name, 'Sin Región') AS region,
       concat_ws(', ', 'Calle ' || CAST(c_custkey AS VARCHAR),
                 COALESCE(n_name, 'Sin Ciudad'), COALESCE(r_name, 'Sin Región')) AS direccion_completa
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
""", name="dim_direccion")(dims_legacy.build_dim_direccion)
query("""
WITH ded AS (
  SELECT * FROM lineitem
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l_orderkey, l_linenumber
    ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax,
             l_returnflag, l_linestatus, l_shipdate
  ) = 1
)
SELECT l_orderkey * 10 + l_linenumber AS detalle_id,
       l_orderkey AS orden_id, l_linenumber AS linea,
       'SKU-' || lpad(CAST(l_partkey AS VARCHAR), 8, '0') AS codigo,
       COALESCE(NULLIF(TRIM(p_name), ''), 'Detalle ' || CAST(l_partkey AS VARCHAR)) AS descripcion
FROM ded LEFT JOIN part ON l_partkey = p_partkey
""", name="dim_detalle_venta")(dims_legacy.build_dim_detalle_venta)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'SIN_CANAL', 'Sin Canal', 'na', FALSE),
  (2, 'WEB', 'Tienda en Línea', 'online', TRUE),
  (3, 'TIENDA', 'Tienda Física', 'retail', TRUE),
  (4, 'DISTRIBUIDOR', 'Canal Mayorista', 'wholesale', TRUE),
  (5, 'TELEFONO', 'Ventas Telefónicas', 'direct', TRUE)
) AS t(canal_id, codigo, nombre, tipo, activo)
""", name="dim_canal")(dims_legacy.build_dim_canal)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'pending', 'Pendiente', FALSE),
  (2, 'authorized', 'Autorizado', FALSE),
  (3, 'paid_partially', 'Pago Parcial', FALSE),
  (4, 'paid_in_full', 'Pagado', TRUE),
  (5, 'refunded', 'Reembolsado', TRUE),
  (6, 'declined', 'Rechazado', TRUE)
) AS t(estado_pago_id, codigo, nombre, es_final)
""", name="dim_estado_pago")(dims_legacy.build_dim_estado_pago)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'EFECTIVO', 'Efectivo', FALSE, 0),
  (2, 'TARJETA_CREDITO', 'Tarjeta de Crédito', TRUE, 2),
  (3, 'TARJETA_DEBITO', 'Tarjeta de Débito', TRUE, 1),
  (4, 'TRANSFERENCIA', 'Transferencia Bancaria', TRUE, 3),
  (5, 'CHEQUE', 'Cheque', TRUE, 5)
) AS t(pago_id, metodo_pago, nombre, requiere_validacion, plazo_dias)
""", name="dim_pago")(dims_legacy.build_dim_pago)
query("""
SELECT * FROM (VALUES
  (CAST(1 AS INT), 'PF_SV', 'puntafina.sv', 'production'),
  (2, 'PF_STAGE', 'stage.puntafina.sv', 'staging')
) AS t(sitio_web_id, codigo, url, entorno)
""", name="dim_sitio_web")(dims_legacy.build_dim_sitio_web)

_DIM_MEMO: dict = {}


def _memo_dim(name: str, build, spark: SparkSession, sf_dir: str) -> DataFrame:
    # the star build materializes its lookup dims once through
    # materialize() for its own fact_ventas (plans/pipeline.py); the
    # registry's fact queries run outside that build, so within a session
    # their reuse comes from persist() — unlike localCheckpoint, lineage
    # is kept, so on a real cluster a lost executor recomputes the
    # missing blocks instead of failing every downstream job
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _DIM_MEMO:
        _DIM_MEMO[key] = build(spark, sf_dir).persist()
    return _DIM_MEMO[key]


# shared fact_ventas oracle (also reused by ventas_daily_summary)
_FACT_VENTAS_SQL = f"""
WITH dp AS (
  SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY p_partkey) AS INT) AS producto_id,
         p_partkey, {_r2("p_retailprice * 0.4")} AS costo_estandar
  FROM part
), dc AS (
  SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT) AS cliente_id, c_custkey FROM customer
), da AS (
  SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS INT) AS almacen_id, s_suppkey FROM supplier
), grain AS (
  SELECT l.*, o.o_orderdate, o.o_custkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate IS NOT NULL AND l.l_partkey IS NOT NULL AND l.l_quantity > 0
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY l.l_orderkey, l.l_linenumber
    ORDER BY l.l_partkey, l.l_suppkey, l.l_quantity, l.l_extendedprice, l.l_discount,
             l.l_tax, l.l_returnflag, l.l_linestatus, l.l_shipdate
  ) = 1
), m AS (
  SELECT l_orderkey * 10 + l_linenumber AS venta_id,
         l_orderkey AS orden_id, l_linenumber AS linea,
         CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS fecha_id,
         o_custkey, l_partkey, l_suppkey,
         {_r2("l_quantity")} AS cantidad,
         {_r2("l_extendedprice / l_quantity")} AS precio_unitario,
         {_r2("l_extendedprice")} AS subtotal_bruto,
         {_r2("l_extendedprice * l_discount")} AS descuento
  FROM grain
), m2 AS (
  SELECT *, subtotal_bruto - descuento AS subtotal_con_iva FROM m
), m3 AS (
  SELECT *, {_r2("CAST(subtotal_con_iva AS DOUBLE) / 1.13")} AS subtotal FROM m2
), m4 AS (
  SELECT *, subtotal_con_iva - subtotal AS impuesto FROM m3
), joined AS (
  SELECT m4.*, COALESCE(dc.cliente_id, 1) AS cliente_id, COALESCE(dp.producto_id, 1) AS producto_id,
         COALESCE(da.almacen_id, 1) AS almacen_id,
         {_r2("COALESCE(CAST(dp.costo_estandar AS DOUBLE), 0) * CAST(m4.cantidad AS DOUBLE)")} AS costo_total
  FROM m4
  LEFT JOIN dc ON m4.o_custkey = dc.c_custkey
  LEFT JOIN dp ON m4.l_partkey = dp.p_partkey
  LEFT JOIN da ON m4.l_suppkey = da.s_suppkey
)
SELECT venta_id, orden_id, linea, fecha_id, cliente_id, producto_id, almacen_id,
       CASE WHEN impuesto > 0 THEN 1 ELSE 3 END AS impuesto_id,
       CAST(cantidad AS DECIMAL(10,2)) AS cantidad,
       CAST(precio_unitario AS DECIMAL(15,2)) AS precio_unitario,
       CAST(subtotal_bruto AS DECIMAL(15,2)) AS subtotal_bruto,
       CAST(descuento AS DECIMAL(15,2)) AS descuento,
       CAST(subtotal AS DECIMAL(15,2)) AS subtotal,
       CAST(impuesto AS DECIMAL(15,2)) AS impuesto,
       CAST(subtotal_con_iva AS DECIMAL(15,2)) AS total,
       CAST(costo_total AS DECIMAL(15,2)) AS costo_total,
       CAST(subtotal - costo_total AS DECIMAL(15,2)) AS margen
FROM joined
"""


@query(_FACT_VENTAS_SQL, dec=[
    "cantidad", "precio_unitario", "subtotal_bruto", "descuento",
    "subtotal", "impuesto", "total", "costo_total", "margen",
])
def fact_ventas(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the fact itself is also materialized once per session — downstream
    # consumers (daily rollup, DQ report) read it like the warehouse
    # table the pipeline would have written
    key = (spark.sparkContext.applicationId, sf_dir, "fact_ventas")
    if key not in _DIM_MEMO:
        _DIM_MEMO[key] = build_fact_ventas(
            spark,
            sf_dir,
            _memo_dim("producto", build_dim_producto, spark, sf_dir),
            _memo_dim("cliente", build_dim_cliente, spark, sf_dir),
            _memo_dim("almacen", build_dim_almacen, spark, sf_dir),
        ).persist()
    return _DIM_MEMO[key]


# shared journal oracle (fact_transacciones; reused by balance / P&L)
_JOURNAL_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS orden_id,
         'AST-' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0') AS numero_asiento,
         CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS fecha_id,
         {_r2("o_totalprice")} AS total
  FROM orders
), b2 AS (
  SELECT *, {_r2("CAST(total AS DOUBLE) / 1.13")} AS subtotal FROM base
), b3 AS (
  SELECT *, total - subtotal AS iva, {_r2("CAST(subtotal AS DOUBLE) * 0.4")} AS costo FROM b2
), entries AS (
  SELECT orden_id, numero_asiento, fecha_id, 1102 AS cuenta_id, 'DEBITO' AS tipo_movimiento,
         CAST(total AS DECIMAL(15,2)) AS monto, 'Cobro de venta' AS descripcion FROM b3
   WHERE CAST(total AS DECIMAL(15,2)) > 0
  UNION ALL
  SELECT orden_id, numero_asiento, fecha_id, 4101, 'CREDITO',
         CAST(subtotal AS DECIMAL(15,2)), 'Venta de mercadería' FROM b3
   WHERE CAST(subtotal AS DECIMAL(15,2)) > 0
  UNION ALL
  SELECT orden_id, numero_asiento, fecha_id, 2102, 'CREDITO',
         CAST(iva AS DECIMAL(15,2)), 'IVA débito fiscal' FROM b3
   WHERE CAST(iva AS DECIMAL(15,2)) > 0
  UNION ALL
  SELECT orden_id, numero_asiento, fecha_id, 5101, 'DEBITO',
         CAST(costo AS DECIMAL(15,2)), 'Costo de ventas' FROM b3
   WHERE CAST(costo AS DECIMAL(15,2)) > 0
  UNION ALL
  SELECT orden_id, numero_asiento, fecha_id, 1103, 'CREDITO',
         CAST(costo AS DECIMAL(15,2)), 'Salida de inventario' FROM b3
   WHERE CAST(costo AS DECIMAL(15,2)) > 0
)
SELECT orden_id, numero_asiento, fecha_id,
       CAST(FLOOR(fecha_id / 100) AS INT) AS periodo_id,
       cuenta_id, tipo_movimiento, monto, descripcion
FROM entries
"""


@query(_JOURNAL_SQL, dec=["monto"])
def fact_transacciones(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_transacciones(spark, sf_dir)


@query(f"""
WITH journal AS ({_JOURNAL_SQL}),
rolled AS (
  SELECT periodo_id, cuenta_id,
         SUM(CASE WHEN tipo_movimiento = 'DEBITO' THEN monto ELSE 0 END) AS debitos,
         SUM(CASE WHEN tipo_movimiento = 'CREDITO' THEN monto ELSE 0 END) AS creditos
  FROM journal GROUP BY periodo_id, cuenta_id
), signed AS (
  SELECT *, CASE WHEN cuenta_id IN (2102, 4101) THEN creditos - debitos
                 ELSE debitos - creditos END AS movimiento_neto
  FROM rolled
), run AS (
  SELECT *, SUM(movimiento_neto) OVER (
           PARTITION BY cuenta_id ORDER BY periodo_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS saldo_final
  FROM signed
)
SELECT periodo_id, cuenta_id,
       CAST(debitos AS DECIMAL(15,2)) AS debitos,
       CAST(creditos AS DECIMAL(15,2)) AS creditos,
       CAST(movimiento_neto AS DECIMAL(15,2)) AS movimiento_neto,
       CAST(COALESCE(LAG(saldo_final) OVER (PARTITION BY cuenta_id ORDER BY periodo_id), 0) AS DECIMAL(15,2)) AS saldo_inicial,
       CAST(saldo_final AS DECIMAL(15,2)) AS saldo_final
FROM run
""", dec=["debitos", "creditos", "movimiento_neto", "saldo_inicial", "saldo_final"])
def fact_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_balance(
        build_fact_transacciones(spark, sf_dir), build_dim_cuenta_contable(spark, sf_dir)
    )


@query(f"""
WITH journal AS ({_JOURNAL_SQL}),
classified AS (
  SELECT *, CASE substr(CAST(cuenta_id AS VARCHAR), 1, 1)
              WHEN '4' THEN 'ingreso' WHEN '5' THEN 'costo' WHEN '6' THEN 'gasto' END AS tipo_cuenta
  FROM journal
  WHERE substr(CAST(cuenta_id AS VARCHAR), 1, 1) IN ('4', '5', '6')
), signed AS (
  SELECT *, CASE WHEN tipo_cuenta = 'ingreso'
                 THEN CASE WHEN tipo_movimiento = 'CREDITO' THEN monto ELSE -monto END
                 ELSE CASE WHEN tipo_movimiento = 'DEBITO' THEN monto ELSE -monto END
            END AS monto_clasificado
  FROM classified
), pivoted AS (
  SELECT periodo_id,
         SUM(CASE WHEN tipo_cuenta = 'ingreso' THEN monto_clasificado ELSE 0 END) AS ingresos,
         SUM(CASE WHEN tipo_cuenta = 'costo' THEN monto_clasificado ELSE 0 END) AS costos,
         SUM(CASE WHEN tipo_cuenta = 'gasto' THEN monto_clasificado ELSE 0 END) AS gastos
  FROM signed GROUP BY periodo_id
)
SELECT periodo_id,
       CAST(ingresos AS DECIMAL(15,2)) AS ingresos,
       CAST(costos AS DECIMAL(15,2)) AS costos,
       CAST(gastos AS DECIMAL(15,2)) AS gastos,
       CAST(ingresos - costos AS DECIMAL(15,2)) AS utilidad_bruta,
       CAST(ingresos - costos - gastos AS DECIMAL(15,2)) AS utilidad_neta
FROM pivoted
WHERE ingresos <> 0 OR costos <> 0 OR gastos <> 0
""", dec=["ingresos", "costos", "gastos", "utilidad_bruta", "utilidad_neta"])
def fact_estado_resultados(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_fact_estado_resultados(build_fact_transacciones(spark, sf_dir))


@query(f"""
WITH fv AS ({_FACT_VENTAS_SQL}),
dc AS (
  SELECT CAST(1 AS INT) AS cliente_id, 'Sin País' AS pais
  UNION ALL
  SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT), COALESCE(n_name, 'Sin País')
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
)
SELECT CAST(FLOOR(fv.fecha_id / 10000) AS INT) AS anio,
       CAST(FLOOR((FLOOR(fv.fecha_id / 100) % 100 - 1) / 3) + 1 AS INT) AS trimestre,
       dc.pais,
       CAST(SUM(fv.subtotal) AS DECIMAL(18,2)) AS ventas_netas,
       CAST(SUM(fv.margen) AS DECIMAL(18,2)) AS margen_total,
       COUNT(*) AS n_lineas,
       COUNT(DISTINCT fv.orden_id) AS n_ordenes
FROM fv JOIN dc ON fv.cliente_id = dc.cliente_id
GROUP BY 1, 2, 3
""", dec=["ventas_netas", "margen_total"])
def star_revenue_by_pais_trimestre(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the dimensional query the warehouse exists for: fact ⨝ dim_fecha ⨝
    # dim_cliente, rolled up by year/quarter/country. Both dims broadcast.
    fv = fact_ventas(spark, sf_dir)
    fecha = build_dim_fecha(spark, sf_dir).select("fecha_id", "anio", "trimestre")
    cliente = _memo_dim("cliente", build_dim_cliente, spark, sf_dir).select("cliente_id", "pais")
    return (
        fv.join(F.broadcast(fecha), "fecha_id")
        .join(F.broadcast(cliente), "cliente_id")
        .groupBy("anio", "trimestre", "pais")
        .agg(
            F.sum("subtotal").cast("decimal(18,2)").alias("ventas_netas"),
            F.sum("margen").cast("decimal(18,2)").alias("margen_total"),
            F.count("*").alias("n_lineas"),
            F.countDistinct("orden_id").alias("n_ordenes"),
        )
    )


@query(f"""
WITH fact_ventas AS ({_FACT_VENTAS_SQL})
SELECT fecha_id,
       CAST(SUM(subtotal) AS DECIMAL(18,2)) AS subtotal_total,
       CAST(SUM(descuento) AS DECIMAL(18,2)) AS descuento_total,
       COUNT(*) AS n_lineas,
       COUNT(DISTINCT orden_id) AS n_ordenes
FROM fact_ventas GROUP BY fecha_id
""", dec=["subtotal_total", "descuento_total"])
def ventas_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    fv = fact_ventas(spark, sf_dir)
    return fv.groupBy("fecha_id").agg(
        F.sum("subtotal").cast("decimal(18,2)").alias("subtotal_total"),
        F.sum("descuento").cast("decimal(18,2)").alias("descuento_total"),
        F.count("*").alias("n_lineas"),
        F.countDistinct("orden_id").alias("n_ordenes"),
    )


# session-6: SCD Type 3 — the oracle mirrors type3_update's left-join
# semantics (match → Type-1 overwrite; CHANGE → prev captures the old
# value; re-assertion keeps prev NULL; non-matches pass through)
@query("""
WITH c AS (
  SELECT c_custkey, CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS old_seg
  FROM customer
),
u AS (
  SELECT c_custkey, CASE WHEN c_custkey % 4 = 0 THEN old_seg ELSE 'vip' END AS new_seg
  FROM c WHERE c_custkey % 2 = 0
)
SELECT c.c_custkey,
       COALESCE(u.new_seg, c.old_seg) AS segment,
       CASE WHEN u.c_custkey IS NOT NULL AND u.new_seg <> c.old_seg THEN c.old_seg END AS prev_segment
FROM c LEFT JOIN u USING (c_custkey)
""")
def scd3_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCD Type 3 (previous-value column): even-key customers get a
    # segment update — keys divisible by 4 re-assert the old value
    # (prev stays NULL), the rest change (prev captures the old one),
    # odd keys pass through (operators.scd.type3_update)
    from data_warehouse_punta_fina_spark.operators.scd import type3_update

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    old_seg = F.when(F.col("c_acctbal") < 0, "neg").otherwise("pos")
    target = c.select("c_custkey", old_seg.alias("segment")).withColumn(
        "prev_segment", F.lit(None).cast("string")
    )
    upd_seg = F.when(F.col("c_custkey") % 4 == 0, old_seg).otherwise(F.lit("vip"))
    updates = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", upd_seg.alias("segment")
    )
    return type3_update(target, updates, ["c_custkey"], "segment", "prev_segment")


# session-6: accumulating-snapshot fact — milestone dates + lag
# measures; lineless orders keep NULL milestones, zero counts, false
# completion (COALESCE mirrors the Spark projection)
@query("""
WITH m AS (
  SELECT l_orderkey, COUNT(*) AS n_lines,
         MIN(CAST(l_shipdate AS DATE)) AS first_ship,
         MAX(CAST(l_shipdate AS DATE)) AS last_ship,
         SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS n_finished
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
       CAST(COALESCE(n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(n_finished, 0) AS BIGINT) AS n_finished,
       first_ship, last_ship,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), first_ship) AS INT) AS days_to_first_ship,
       CAST(date_diff('day', first_ship, last_ship) AS INT) AS ship_span_days,
       COALESCE(n_finished = n_lines, FALSE) AS all_finished
FROM orders LEFT JOIN m ON o_orderkey = l_orderkey
""")
def fact_order_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # accumulating-snapshot fact (the Kimball milestone pattern the
    # star schemas don't cover): one row per order with its milestone
    # dates (first/last ship), lag measures between them, and the
    # completion flag; orders with no lines keep null milestones
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("order_date"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.to_date("l_shipdate").alias("_ship"),
        "l_linestatus",
    )
    m = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.min("_ship").alias("first_ship"),
        F.max("_ship").alias("last_ship"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0)).alias("n_finished"),
    )
    return (
        o.join(m, o.o_orderkey == m.l_orderkey, "left")
        .select(
            "o_orderkey",
            "order_date",
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce(F.col("n_finished"), F.lit(0)).cast("bigint").alias("n_finished"),
            "first_ship",
            "last_ship",
            F.datediff(F.col("first_ship"), F.col("order_date")).cast("int").alias(
                "days_to_first_ship"
            ),
            F.datediff(F.col("last_ship"), F.col("first_ship")).cast("int").alias(
                "ship_span_days"
            ),
            F.coalesce(
                F.col("n_finished") == F.col("n_lines"), F.lit(False)
            ).alias("all_finished"),
        )
    )


@query(f"""
WITH fv AS ({_FACT_VENTAS_SQL}),
journal AS ({_JOURNAL_SQL}),
dc AS (SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY c_custkey) AS INT) AS sk FROM customer UNION ALL SELECT 1),
dp AS (SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY p_partkey) AS INT) AS sk FROM part UNION ALL SELECT 1),
da AS (SELECT CAST(1 + ROW_NUMBER() OVER (ORDER BY s_suppkey) AS INT) AS sk FROM supplier UNION ALL SELECT 1)
SELECT 'count_gt_zero' AS check, 'fact_ventas' AS target, (SELECT COUNT(*) FROM fv) AS value
UNION ALL
SELECT 'grain_unique', 'fact_ventas',
       (SELECT COUNT(*) FROM (SELECT venta_id FROM fv GROUP BY venta_id HAVING COUNT(*) > 1))
UNION ALL
SELECT 'fk_orphans', 'fact_ventas.cliente_id',
       (SELECT COUNT(*) FROM fv WHERE cliente_id NOT IN (SELECT sk FROM dc))
UNION ALL
SELECT 'fk_orphans', 'fact_ventas.producto_id',
       (SELECT COUNT(*) FROM fv WHERE producto_id NOT IN (SELECT sk FROM dp))
UNION ALL
SELECT 'fk_orphans', 'fact_ventas.almacen_id',
       (SELECT COUNT(*) FROM fv WHERE almacen_id NOT IN (SELECT sk FROM da))
UNION ALL
SELECT 'double_entry', 'fact_transacciones',
       (SELECT CAST(ABS(SUM(CASE WHEN tipo_movimiento = 'DEBITO' THEN monto ELSE 0 END)
                       - SUM(CASE WHEN tipo_movimiento = 'CREDITO' THEN monto ELSE 0 END)) * 100 AS BIGINT)
        FROM journal)
""")
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's FASE-5 post-load validation (SURVEY §5.3) over the
    # built star: grain uniqueness, FK closure, double-entry, row counts
    fv = fact_ventas(spark, sf_dir)
    journal = build_fact_transacciones(spark, sf_dir)
    dims = {
        "cliente_id": _memo_dim("cliente", build_dim_cliente, spark, sf_dir),
        "producto_id": _memo_dim("producto", build_dim_producto, spark, sf_dir),
        "almacen_id": _memo_dim("almacen", build_dim_almacen, spark, sf_dir),
    }
    rows = []
    n = fv.count()
    rows.append(("count_gt_zero", "fact_ventas", n))
    dup = fv.groupBy("venta_id").count().filter(F.col("count") > 1).count()
    rows.append(("grain_unique", "fact_ventas", dup))
    for fk, dim in dims.items():
        orphans = fv.join(dim.select(F.col(fk)), fk, "left_anti").count()
        rows.append(("fk_orphans", f"fact_ventas.{fk}", orphans))
    de = journal.agg(
        F.sum(F.when(F.col("tipo_movimiento") == "DEBITO", F.col("monto")).otherwise(0)).alias("d"),
        F.sum(F.when(F.col("tipo_movimiento") == "CREDITO", F.col("monto")).otherwise(0)).alias("c"),
    ).collect()[0]
    diff_cents = int(abs((de["d"] or 0) - (de["c"] or 0)) * 100)
    rows.append(("double_entry", "fact_transacciones", diff_cents))
    return literal_table(spark, rows, "check string, target string, value long")


@query("""
WITH cur AS (
  SELECT c_custkey AS cliente_key, c_mktsegment AS segmento,
         DATE '2020-01-01' AS valid_from, DATE '9999-12-31' AS valid_to, TRUE AS is_current
  FROM customer
), upd AS (
  SELECT c_custkey AS cliente_key, 'SEGMENTO_NUEVO' AS segmento FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NUEVO' FROM customer WHERE c_custkey % 97 = 0
)
SELECT c.cliente_key, c.segmento, c.valid_from, c.valid_to, c.is_current
FROM cur c LEFT JOIN upd u ON c.cliente_key = u.cliente_key
WHERE u.cliente_key IS NULL OR c.segmento IS NOT DISTINCT FROM u.segmento
UNION ALL
SELECT c.cliente_key, c.segmento, c.valid_from, DATE '2024-06-01', FALSE
FROM cur c JOIN upd u ON c.cliente_key = u.cliente_key
WHERE c.segmento IS DISTINCT FROM u.segmento
UNION ALL
SELECT c.cliente_key, u.segmento, DATE '2024-06-01', DATE '9999-12-31', TRUE
FROM cur c JOIN upd u ON c.cliente_key = u.cliente_key
WHERE c.segmento IS DISTINCT FROM u.segmento
UNION ALL
SELECT u.cliente_key, u.segmento, DATE '2024-06-01', DATE '9999-12-31', TRUE
FROM upd u WHERE u.cliente_key NOT IN (SELECT cliente_key FROM cur)
""")
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.scd import scd2_merge

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        F.col("c_custkey").alias("cliente_key"),
        F.col("c_mktsegment").alias("segmento"),
        F.to_date(F.lit("2020-01-01")).alias("valid_from"),
        F.to_date(F.lit("9999-12-31")).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        customer.filter(F.col("c_custkey") % 10 == 0)
        .select(F.col("c_custkey").alias("cliente_key"), F.lit("SEGMENTO_NUEVO").alias("segmento"))
        .unionByName(
            customer.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + F.lit(1000000)).alias("cliente_key"),
                F.lit("NUEVO").alias("segmento"),
            )
        )
    )
    return scd2_merge(
        current, updates, "cliente_key", ["segmento"], F.to_date(F.lit("2024-06-01"))
    )


# Kimball point-in-time lookup: orders joined to the SCD2 segment
# version valid at the order date (half-open interval, new version
# wins on the change date).
@query("""
WITH cur AS (
  SELECT c_custkey AS cliente_key, c_mktsegment AS segmento,
         DATE '1990-01-01' AS valid_from, DATE '9999-12-31' AS valid_to
  FROM customer
), upd AS (
  SELECT c_custkey AS cliente_key, 'SEGMENTO_NUEVO' AS segmento FROM customer WHERE c_custkey % 10 = 0
), scd AS (
  SELECT c.cliente_key, c.segmento, c.valid_from, c.valid_to
  FROM cur c LEFT JOIN upd u ON c.cliente_key = u.cliente_key
  WHERE u.cliente_key IS NULL OR c.segmento IS NOT DISTINCT FROM u.segmento
  UNION ALL
  SELECT c.cliente_key, c.segmento, c.valid_from, DATE '1996-06-01'
  FROM cur c JOIN upd u ON c.cliente_key = u.cliente_key
  WHERE c.segmento IS DISTINCT FROM u.segmento
  UNION ALL
  SELECT c.cliente_key, u.segmento, DATE '1996-06-01', DATE '9999-12-31'
  FROM cur c JOIN upd u ON c.cliente_key = u.cliente_key
  WHERE c.segmento IS DISTINCT FROM u.segmento
)
SELECT o.o_orderkey AS orden_id, o.o_custkey AS cliente_key, o.o_orderdate AS fecha,
       d.segmento, d.valid_from
FROM orders o LEFT JOIN scd d
  ON o.o_custkey = d.cliente_key
 AND o.o_orderdate >= d.valid_from AND o.o_orderdate < d.valid_to
""")
def scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Kimball temporal join: every order resolved to the customer-
    # segment VERSION valid at its order date (interval residual on the
    # equi hash join). No broadcast hint: the dim derives from customer
    # (scale-proportional, ~15M rows at sf100), so Spark's
    # autoBroadcastJoinThreshold picks the strategy — broadcast while
    # small, shuffle join past the threshold
    from data_warehouse_punta_fina_spark.operators.scd import pit_lookup, scd2_merge

    customer = load_table(spark, sf_dir, "customer")
    current = customer.select(
        F.col("c_custkey").alias("cliente_key"),
        F.col("c_mktsegment").alias("segmento"),
        F.to_date(F.lit("1990-01-01")).alias("valid_from"),
        F.to_date(F.lit("9999-12-31")).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = customer.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("cliente_key"),
        F.lit("SEGMENTO_NUEVO").alias("segmento"),
    )
    dim = scd2_merge(
        current, updates, "cliente_key", ["segmento"], F.to_date(F.lit("1996-06-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    return pit_lookup(
        orders, dim, "o_custkey", "cliente_key", "o_orderdate"
    ).select(
        F.col("o_orderkey").alias("orden_id"),
        F.col("o_custkey").alias("cliente_key"),
        F.col("o_orderdate").alias("fecha"),
        F.col("segmento"),
        F.col("valid_from"),
    )


@query("""
WITH oldt AS (SELECT c_custkey, c_mktsegment FROM customer),
newt AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN 'SEGMENTO_NUEVO' ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NUEVO' FROM customer WHERE c_custkey % 97 = 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'inserted'
            WHEN n.c_custkey IS NULL THEN 'deleted'
            WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment THEN 'updated'
            ELSE 'unchanged' END AS change_type
FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey
""")
def customer_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CDC first half: diff two snapshots into inserted/deleted/updated/
    # unchanged (the incremental upgrade of the reference's
    # truncate-and-load). New snapshot is a deterministic mutation:
    # %13 keys deleted, %10 segments updated, %97 keys inserted.
    from data_warehouse_punta_fina_spark.operators.scd import snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    old = customer.select("c_custkey", "c_mktsegment")
    base_new = customer.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, "SEGMENTO_NUEVO")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    inserts = customer.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + F.lit(1000000)).alias("c_custkey"),
        F.lit("NUEVO").alias("c_mktsegment"),
    )
    return snapshot_diff(
        old, base_new.unionByName(inserts), ["c_custkey"], hash_compare=False
    )


# unpivot oracle reuses the P&L oracle as a CTE (stack() twin)
@query(f"""
WITH pnl AS ({sql_of("fact_estado_resultados")})
SELECT periodo_id, concepto, monto FROM (
  SELECT periodo_id, 'ingresos' AS concepto, ingresos AS monto FROM pnl
  UNION ALL SELECT periodo_id, 'costos', costos FROM pnl
  UNION ALL SELECT periodo_id, 'gastos', gastos FROM pnl
  UNION ALL SELECT periodo_id, 'utilidad_bruta', utilidad_bruta FROM pnl
  UNION ALL SELECT periodo_id, 'utilidad_neta', utilidad_neta FROM pnl
) u
""", dec=["monto"])
def pnl_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unpivot/melt: the P&L wide columns back to long (periodo, concepto,
    # monto) via stack() — the inverse of the A6 pivot
    pnl = build_fact_estado_resultados(build_fact_transacciones(spark, sf_dir))
    return pnl.selectExpr(
        "periodo_id",
        "stack(5, 'ingresos', ingresos, 'costos', costos, 'gastos', gastos, "
        "'utilidad_bruta', utilidad_bruta, 'utilidad_neta', utilidad_neta) AS (concepto, monto)",
    )


# combined catalog probe: one UNION ALL over the individual catalog
# oracles, shaped to (catalogo, item_id, codigo, nombre, flag, valor)
_CAT_MAP = [
    ("cuenta_contable", "dim_cuenta_contable", "cuenta_id", "codigo", "nombre", "activa", "NULL"),
    ("tipo_movimiento", "dim_tipo_movimiento", "tipo_movimiento_id", "codigo", "nombre", "activo", "NULL"),
    ("centro_costo", "dim_centro_costo", "centro_costo_id", "codigo", "nombre", "activo", "NULL"),
    ("tipo_transaccion", "dim_tipo_transaccion", "tipo_transaccion_id", "codigo", "nombre", "es_venta", "NULL"),
    ("impuestos", "dim_impuestos", "impuesto_id", "codigo", "nombre", "activo", "tasa"),
    ("estado_orden", "dim_estado_orden", "estado_orden_id", "codigo_estado", "nombre_estado", "es_estado_final", "orden_flujo"),
    ("envio", "dim_envio", "envio_id", "codigo", "metodo_envio", "NULL", "costo"),
    ("canal", "dim_canal", "canal_id", "codigo", "nombre", "activo", "NULL"),
    ("estado_pago", "dim_estado_pago", "estado_pago_id", "codigo", "nombre", "es_final", "NULL"),
    ("pago", "dim_pago", "pago_id", "metodo_pago", "nombre", "requiere_validacion", "plazo_dias"),
    ("sitio_web", "dim_sitio_web", "sitio_web_id", "codigo", "url", "NULL", "NULL"),
    ("categoria_producto", "dim_categoria_producto", "categoria_id", "NULL", "nombre", "activa", "NULL"),
]


@query("\nUNION ALL\n".join(
    f"SELECT '{name}' AS catalogo, CAST({idc} AS INT) AS item_id, CAST({cod} AS VARCHAR) AS codigo, "
    f"{nom} AS nombre, CAST({flag} AS BOOLEAN) AS flag, CAST({val} AS DOUBLE) AS valor "
    f"FROM ({sql_of(key)}) _{name}"
    for name, key, idc, cod, nom, flag, val in _CAT_MAP
))
def dim_catalogs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 12 literal/catalog dimensions (S8/U1 + the derived category
        dim) as ONE probe row-set: (catalogo, item_id, codigo, nombre,
        flag, valor). Round 1 spent 12 of the driver's 50 checked slots on
        2-10-row literal tables; this keeps every catalog oracle-checked
        in a single slot. The full-width builders stay in the package and
        under pytest; per-dim entries remain in extra_queries()."""
    from data_warehouse_punta_fina_spark.plans import dims_catalog, dims_legacy

    def shape(df, name, id_col, codigo, nombre, flag, valor):
        return df.select(
            F.lit(name).alias("catalogo"),
            F.col(id_col).cast("int").alias("item_id"),
            codigo.cast("string").alias("codigo"),
            F.col(nombre).alias("nombre"),
            flag.cast("boolean").alias("flag"),
            valor.cast("double").alias("valor"),
        )

    c, lg = dims_catalog, dims_legacy
    parts = [
        shape(build_dim_cuenta_contable(spark, sf_dir), "cuenta_contable", "cuenta_id",
              F.col("codigo"), "nombre", F.col("activa"), F.lit(None)),
        shape(c.build_dim_tipo_movimiento(spark), "tipo_movimiento", "tipo_movimiento_id",
              F.col("codigo"), "nombre", F.col("activo"), F.lit(None)),
        shape(c.build_dim_centro_costo(spark), "centro_costo", "centro_costo_id",
              F.col("codigo"), "nombre", F.col("activo"), F.lit(None)),
        shape(c.build_dim_tipo_transaccion(spark), "tipo_transaccion", "tipo_transaccion_id",
              F.col("codigo"), "nombre", F.col("es_venta"), F.lit(None)),
        shape(c.build_dim_impuestos(spark), "impuestos", "impuesto_id",
              F.col("codigo"), "nombre", F.col("activo"), F.col("tasa")),
        shape(c.build_dim_estado_orden(spark), "estado_orden", "estado_orden_id",
              F.col("codigo_estado"), "nombre_estado", F.col("es_estado_final"), F.col("orden_flujo")),
        shape(c.build_dim_envio(spark), "envio", "envio_id",
              F.col("codigo"), "metodo_envio", F.lit(None), F.col("costo")),
        shape(lg.build_dim_canal(spark, sf_dir), "canal", "canal_id",
              F.col("codigo"), "nombre", F.col("activo"), F.lit(None)),
        shape(lg.build_dim_estado_pago(spark, sf_dir), "estado_pago", "estado_pago_id",
              F.col("codigo"), "nombre", F.col("es_final"), F.lit(None)),
        shape(lg.build_dim_pago(spark, sf_dir), "pago", "pago_id",
              F.col("metodo_pago"), "nombre", F.col("requiere_validacion"), F.col("plazo_dias")),
        shape(lg.build_dim_sitio_web(spark, sf_dir), "sitio_web", "sitio_web_id",
              F.col("codigo"), "url", F.lit(None), F.lit(None)),
        shape(c.build_dim_categoria_producto(spark, sf_dir), "categoria_producto", "categoria_id",
              F.lit(None), "nombre", F.col("activa"), F.lit(None)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
