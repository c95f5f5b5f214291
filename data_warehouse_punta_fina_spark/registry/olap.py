"""SQL/OLAP rollups over the TPC-H tables: verbatim shared-dialect SQL,
grouping sets, set operations, top-N and salted/bloom physical variants."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_warehouse_punta_fina_spark.functions.money import pround2, pround6
from data_warehouse_punta_fina_spark.functions.strings import (
    coded_id,
    contains_ci,
    extract_int,
    first_token,
)
from data_warehouse_punta_fina_spark.registry.shared import _R6D, _r2, query
from data_warehouse_punta_fina_spark.sources.readers import load_table


@query(f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM({_r2("l_quantity")}) AS DECIMAL(18,2)) AS sum_qty,
         CAST(SUM({_r2("l_extendedprice")}) AS DECIMAL(18,2)) AS sum_base_price,
         CAST(SUM({_r2("l_extendedprice * (1 - l_discount)")}) AS DECIMAL(18,2)) AS sum_disc_price,
         CAST(SUM({_r2("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}) AS DECIMAL(18,2)) AS sum_charge,
         COUNT(*) AS n_rows
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
  GROUP BY l_returnflag, l_linestatus
)
SELECT *, {_r2("CAST(sum_qty AS DOUBLE) / n_rows")} AS avg_qty,
       {_r2("CAST(sum_base_price AS DOUBLE) / n_rows")} AS avg_price
FROM agg
""", dec=[
    "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge", "avg_qty", "avg_price",
])
def lineitem_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li = li.filter(F.col("l_shipdate") <= "2000-12-31")
    disc_price = pround2(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    charge = pround2(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(pround2("l_quantity")).cast("decimal(18,2)").alias("sum_qty"),
        F.sum(pround2("l_extendedprice")).cast("decimal(18,2)").alias("sum_base_price"),
        F.sum(disc_price).cast("decimal(18,2)").alias("sum_disc_price"),
        F.sum(charge).cast("decimal(18,2)").alias("sum_charge"),
        F.count("*").alias("n_rows"),
    )
    return agg.withColumn(
        "avg_qty", pround2(F.col("sum_qty").cast("double") / F.col("n_rows"))
    ).withColumn("avg_price", pround2(F.col("sum_base_price").cast("double") / F.col("n_rows")))


@query(f"""
WITH per_order AS (
  SELECT l_orderkey, CAST(SUM({_r2("l_extendedprice * l_discount")}) AS DECIMAL(18,2)) AS descuento_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey AS orden_id, {_r2("o_totalprice")} AS total,
       COALESCE(descuento_total, CAST(0 AS DECIMAL(18,2))) AS descuento_total
FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
""", dec=["total", "descuento_total"])
def discount_order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(pround2(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("decimal(18,2)")
        .alias("descuento_total")
    )
    return orders.join(per_order, orders["o_orderkey"] == per_order["l_orderkey"], "left").select(
        F.col("o_orderkey").alias("orden_id"),
        pround2("o_totalprice").alias("total"),
        F.coalesce(F.col("descuento_total"), F.lit(0).cast("decimal(18,2)")).alias("descuento_total"),
    )


@query(f"""
SELECT l_orderkey AS orden_id, l_linenumber AS linea, l_partkey AS producto_externo_id,
       {_r2("l_extendedprice * l_discount")} AS descuento
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY l_orderkey
  ORDER BY {_r2("l_extendedprice * l_discount")} DESC, l_linenumber, l_partkey, l_suppkey,
           l_extendedprice, l_shipdate
) = 1
""", dec=["descuento"])
def top_discount_line_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.windows import top_n_per_group

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "descuento", pround2(F.col("l_extendedprice") * F.col("l_discount"))
    )
    top = top_n_per_group(
        li,
        "l_orderkey",
        [
            F.desc("descuento"),
            F.asc("l_linenumber"),
            F.asc("l_partkey"),
            F.asc("l_suppkey"),
            F.asc("l_extendedprice"),
            F.asc("l_shipdate"),
        ],
        n=1,
    )
    return top.select(
        F.col("l_orderkey").alias("orden_id"),
        F.col("l_linenumber").alias("linea"),
        F.col("l_partkey").alias("producto_externo_id"),
        F.col("descuento"),
    )


@query("""
SELECT p_partkey,
       'PRD-' || lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS codigo,
       string_split(p_name, ' ')[1] AS primera_palabra,
       CAST(regexp_extract(p_brand, '(\\d+)', 1) AS INT) AS marca_num,
       contains(upper(p_type), 'BRASS') AS es_brass,
       upper(trim(p_type)) AS tipo_norm,
       CASE WHEN p_size >= 30 THEN 'grande' WHEN p_size >= 15 THEN 'mediano' ELSE 'pequeño' END AS clase_talla,
       'P' || lpad(CAST(p_partkey AS VARCHAR), 7, '0') AS codigo_fmt
FROM part
""")
def scalar_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey"),
        coded_id("PRD-", "p_partkey", 8).alias("codigo"),
        first_token("p_name").alias("primera_palabra"),
        extract_int("p_brand").alias("marca_num"),
        contains_ci("p_type", "brass").alias("es_brass"),
        F.upper(F.trim("p_type")).alias("tipo_norm"),
        F.when(F.col("p_size") >= 30, "grande")
        .when(F.col("p_size") >= 15, "mediano")
        .otherwise("pequeño")
        .alias("clase_talla"),
        F.format_string("P%07d", F.col("p_partkey")).alias("codigo_fmt"),
    )


# Materialized-view merge oracle: FULL RECOMPUTE over all rows — not
# a mirror of the split/merge path; equality is the distributivity
# proof (decimal sums associate exactly).
@query(f"""
SELECT o_orderstatus,
       CAST(SUM({_r2("o_totalprice")}) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""")
def revenue_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized-view maintenance: aggregate pre-1997 history ONCE,
    # merge the post-1997 delta without rescanning history
    # (operators.incremental). The oracle recomputes from scratch over
    # ALL rows — a genuinely different computation path; equality
    # holds because decimal sums are associative.
    from data_warehouse_punta_fina_spark.operators.incremental import (
        aggregate_delta,
        incremental_agg_merge,
    )

    orders = load_table(spark, sf_dir, "orders")
    proj = orders.select(
        "o_orderstatus",
        pround2("o_totalprice").alias("revenue"),
        "o_orderdate",
    )
    cut = F.lit("1997-01-01").cast("timestamp")
    prev = aggregate_delta(
        proj.filter(F.col("o_orderdate") < cut), ["o_orderstatus"], ["revenue"]
    )
    merged = incremental_agg_merge(
        prev,
        proj.filter(F.col("o_orderdate") >= cut),
        ["o_orderstatus"],
        ["revenue"],
    )
    return merged.select(
        "o_orderstatus", F.col("revenue").cast("double").alias("revenue"), "n"
    )


_REVENUE_BY_NATION_SQL = """
SELECT n_name AS nacion,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100 AS DECIMAL(15,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineas
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@query(_REVENUE_BY_NATION_SQL)
def sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SQL front end: one ANSI string, executed verbatim by BOTH
    # engines (Catalyst plans it like the DataFrame API would)
    from data_warehouse_punta_fina_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REVENUE_BY_NATION_SQL)


# ANSI SQL executed VERBATIM by both Spark SQL and DuckDB (shared dialect)
_TOP_CUSTOMER_PER_NATION_SQL = """
SELECT nacion, cliente, saldo FROM (
  SELECT n_name AS nacion, c_name AS cliente,
         CAST(FLOOR(c_acctbal * 100 + 0.5) / 100 AS DOUBLE) AS saldo,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer JOIN nation ON c_nationkey = n_nationkey
) ranked WHERE rn = 1
"""


@query(_TOP_CUSTOMER_PER_NATION_SQL)
def sql_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SQL window functions through the SQL front end — same string runs
    # verbatim on both engines
    from data_warehouse_punta_fina_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(_TOP_CUSTOMER_PER_NATION_SQL)


@query(f"""
WITH q AS (
  SELECT c_acctbal, NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS cuartil FROM customer
)
SELECT CAST(cuartil AS INT) AS cuartil, COUNT(*) AS n,
       CAST(SUM({_r2("c_acctbal")}) AS DECIMAL(18,2)) AS saldo_total,
       MIN({_r2("c_acctbal")}) AS saldo_min,
       MAX({_r2("c_acctbal")}) AS saldo_max
FROM q GROUP BY cuartil
""", dec=["saldo_total", "saldo_min", "saldo_max"])
def customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NTILE(4) without the global window a plain ntile forces (a
    # single-partition sort of the whole table — the round-1 scale
    # flag): global rank via the two-pass range-partitioned
    # ranked_sequential_id, then SQL NTILE's exact bucket rule — the
    # first N%k buckets get floor(N/k)+1 rows (front-loaded, NOT the
    # evenly-spread floor((r-1)k/N) variant) — in pure integer DIV/%.
    from data_warehouse_punta_fina_spark.operators.windows import ranked_sequential_id

    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = ranked_sequential_id(customer, ["c_acctbal", "c_custkey"], out="_r")
    n = ranked.agg(F.count("*").alias("_n"))
    big = "((_n div 4) + 1)"  # size of the first (_n % 4) buckets
    ntile_expr = (
        f"CASE WHEN _r <= (_n % 4) * {big} THEN ((_r - 1) div {big}) + 1 "
        f"ELSE (_n % 4) + ((_r - (_n % 4) * {big} - 1) div (_n div 4)) + 1 END"
    )
    quartiled = ranked.crossJoin(F.broadcast(n)).withColumn(
        "cuartil", F.expr(ntile_expr).cast("int")
    )
    return quartiled.groupBy("cuartil").agg(
        F.count("*").alias("n"),
        F.sum(pround2("c_acctbal")).cast("decimal(18,2)").alias("saldo_total"),
        F.min(pround2("c_acctbal")).alias("saldo_min"),
        F.max(pround2("c_acctbal")).alias("saldo_max"),
    )


@query(f"""
WITH cust AS (
  SELECT o_custkey AS k, MAX(o_orderdate) AS last_dt, COUNT(*) AS freq,
         CAST(SUM({_r2("o_totalprice")}) AS DECIMAL(18,2)) AS mon
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT k, freq, mon,
         NTILE(5) OVER (ORDER BY last_dt, k) AS r_score,
         NTILE(5) OVER (ORDER BY freq, k) AS f_score,
         NTILE(5) OVER (ORDER BY mon, k) AS m_score
  FROM cust
),
seg AS (
  SELECT *,
         CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
              WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
              WHEN r_score <= 2 THEN 'at_risk'
              WHEN m_score = 5 THEN 'big_spender'
              WHEN f_score >= 4 THEN 'loyal'
              ELSE 'regular' END AS segment
  FROM s
)
SELECT segment, COUNT(*) AS n_customers, CAST(SUM(freq) AS BIGINT) AS total_orders,
       CAST(SUM(mon) AS DECIMAL(20,2)) AS monetary_total
FROM seg GROUP BY segment
""", dec=["monetary_total"])
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RFM segmentation: per-customer Recency/Frequency/Monetary
    # quintiles via the window-free exact NTILE, standard segment
    # labels, rolled up per segment (operators.behavior.rfm_scores)
    from data_warehouse_punta_fina_spark.operators.behavior import rfm_scores

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_orderdate").alias("last_dt"),
        F.count("*").alias("freq"),
        F.sum(pround2("o_totalprice")).cast("decimal(18,2)").alias("mon"),
    )
    seg = rfm_scores(cust, "k", "last_dt", "freq", "mon", k=5)
    return seg.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.sum("freq").alias("total_orders"),
        F.sum("mon").cast("decimal(20,2)").alias("monetary_total"),
    )


@query(f"""
SELECT l_returnflag,
       CAST(SUM({_r2("l_quantity")}) AS DECIMAL(18,2)) AS sum_qty,
       COUNT(*) AS n_rows,
       MAX({_r2("l_extendedprice")}) AS max_price
FROM lineitem GROUP BY l_returnflag
""", dec=["sum_qty", "max_price"])
def salted_revenue_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("sum", pround2("l_quantity")),
            "n_rows": ("count", F.lit(1)),
            "max_price": ("max", pround2("l_extendedprice")),
        },
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("decimal(18,2)").alias("sum_qty"),
        "n_rows",
        "max_price",
    )


@query(f"""
WITH a AS (
  SELECT o_orderkey AS orden_id, CAST({_r2("o_totalprice")} AS DECIMAL(18,2)) AS total_db, 1 AS in_a
  FROM orders
), b AS (
  SELECT l_orderkey AS orden_id,
         CAST(SUM({_r2("l_extendedprice")}) AS DECIMAL(18,2)) AS total_csv, 1 AS in_b
  FROM lineitem GROUP BY l_orderkey
)
SELECT COALESCE(a.orden_id, b.orden_id) AS orden_id,
       a.total_db, b.total_csv,
       CASE WHEN in_a IS NOT NULL AND in_b IS NOT NULL THEN 'both'
            WHEN in_a IS NOT NULL THEN 'left_only' ELSE 'right_only' END AS presence,
       COALESCE(a.total_db, b.total_csv) AS total,
       CASE WHEN a.total_db IS NOT NULL AND b.total_csv IS NOT NULL
            THEN a.total_db = b.total_csv END AS total_match
FROM a FULL OUTER JOIN b ON a.orden_id = b.orden_id
""", dec=["total_db", "total_csv", "total"])
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.reconcile import reconcile_full_outer

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    primary = orders.select(
        F.col("o_orderkey").alias("orden_id"),
        pround2("o_totalprice").cast("decimal(18,2)").alias("total"),
    )
    secondary = li.groupBy(F.col("l_orderkey").alias("orden_id")).agg(
        F.sum(pround2("l_extendedprice")).cast("decimal(18,2)").alias("total")
    )
    return reconcile_full_outer(primary, secondary, ["orden_id"], ["total"])


@query(f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_r2("l_quantity")}) AS DECIMAL(18,2)) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""", dec=["sum_qty"])
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(pround2("l_quantity")).cast("decimal(18,2)").alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


@query(f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_r2("l_quantity")}) AS DECIMAL(18,2)) AS sum_qty,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""", dec=["sum_qty"])
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full CUBE + grouping_id: completes the grouping-sets family
    # (ROLLUP in lineitem_rollup); both engines share the SQL-standard
    # grouping-bit convention (leftmost column = MSB), verified exact
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(pround2("l_quantity")).cast("decimal(18,2)").alias("sum_qty"),
        F.count("*").alias("n_rows"),
        F.grouping_id().cast("int").alias("gid"),
    )


@query("""
SELECT 'left_only' AS side,
       (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))) AS n
UNION ALL
SELECT 'right_only',
       (SELECT COUNT(*) FROM (SELECT DISTINCT c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)))
UNION ALL
SELECT 'common',
       (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer)))
""")
def custkey_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_warehouse_punta_fina_spark.operators.reconcile import symmetry_counts

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return symmetry_counts(
        orders.select(F.col("o_custkey").alias("k")),
        customer.select(F.col("c_custkey").alias("k")),
        ["k"],
    )


@query("""
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts, TRUE AS approx_within_5pct
FROM lineitem GROUP BY l_returnflag
""")
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HLL sketch (A7 approximate tier). The sketch value itself is not
    # oracle-portable, so the output exposes the exact count plus a
    # boolean error-bound check: rsd=0.01 makes |err| > 5% a ≥5σ event,
    # so the oracle can assert TRUE deterministically. HLL merge is
    # commutative/associative → partition-order independent.
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.col("exact_parts") * F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


# session-6: per-nation Gini via the sorted-rank identity — unit
# totals are exact int64 cents, rank-weighted sums exact, closing
# formula mirrors operators.stats.group_concentration's op order
@query(f"""
WITH t AS (
  SELECT n_name, c_custkey AS u,
         CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS xq
  FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
tot AS (SELECT n_name, u, SUM(xq) AS x FROM t GROUP BY 1, 2),
rk AS (SELECT n_name, u, x, ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY x, u) AS i FROM tot),
a AS (
  SELECT n_name, COUNT(*) AS n_units, SUM(x) AS sx, SUM(i * x) AS six, MAX(x) AS xmax
  FROM rk GROUP BY n_name
)
SELECT n_name, n_units,
       {_R6D.format(e="CAST(sx AS DOUBLE) / 100.0")} AS total,
       {_R6D.format(e="2.0 * CAST(six AS DOUBLE) / (CAST(n_units AS DOUBLE) * CAST(sx AS DOUBLE)) - (CAST(n_units AS DOUBLE) + 1.0) / CAST(n_units AS DOUBLE)")} AS gini,
       {_R6D.format(e="CAST(xmax AS DOUBLE) / CAST(sx AS DOUBLE)")} AS top_share
FROM a
""", dec=["total", "gini", "top_share"])
def nation_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-nation Gini + top-customer share of order revenue — the
    # sorted-rank Gini identity, one group-partitioned window, exact
    # int64 sufficient statistics (operators.stats.group_concentration)
    from data_warehouse_punta_fina_spark.operators.stats import group_concentration

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    return group_concentration(joined, ["n_name"], "c_custkey", "o_totalprice", 2)


# ---- round-6 additions: EXISTS/distribution relational patterns,
# EWMA / CUSUM / linear-interpolation timeseries, FD audit, Bloom
# semi-join reduction, and the classifier-evaluation tier ----
# TPC-H Q4 pattern: EXISTS over returned lineitems
@query("""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""")
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 pattern: EXISTS-correlated subquery decorrelated to a
    # LEFT SEMI join (each order counted once however many lineitems
    # match) — the shape Catalyst plans as a shuffled semi join with
    # the filter pushed below it
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# TPC-H Q13 pattern: count-of-counts including zero-order customers
@query("""
WITH per AS (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers FROM per GROUP BY n_orders
""")
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13 pattern: LEFT join preserves zero-order customers,
    # then the count-of-counts histogram — double aggregation, the
    # second over a cardinality-sized frame
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


# Bloom semi-join reduction: the result is EXACTLY the semi join
# (the bitmap stage is perf-only), so the oracle is the plain IN
@query("""
SELECT l_returnflag, COUNT(*) AS n_lines,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""")
def urgent_lineitems_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # semi-join reduction: lineitems of URGENT orders via a broadcast
    # Bloom bitmap pre-filter + exact verify (operators.bloomjoin) —
    # the result is exactly the semi join, the Bloom stage only cuts
    # what the shuffle has to move
    from data_warehouse_punta_fina_spark.operators.bloomjoin import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    hit = bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", m_bits=1 << 16, hashes=2
    )
    return hit.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        (
            F.sum(F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / 100.0
        ).alias("sum_qty"),
    )


# ---- round-6 wave 6: Pareto concentration, ties-aware top-k,
# multiplicative means ----
# Pareto 80/20: cumulative share over the part aggregate; the
# crossing test is pure integer (5·cum_prev < 4·total)
@query(f"""
WITH per AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS t FROM per),
ranked AS (
  SELECT l_partkey, cents, t,
         CAST(SUM(cents) OVER w AS BIGINT) AS cum,
         CAST(COUNT(*) OVER w AS BIGINT) AS rank
  FROM per, tot
  WINDOW w AS (ORDER BY cents DESC, l_partkey ROWS UNBOUNDED PRECEDING)
)
SELECT l_partkey, rank, CAST(cents AS DOUBLE) / 100.0 AS revenue,
       {_R6D.format(e="CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)")} AS cum_share,
       (5 * (cum - cents) < 4 * t) AS in_top80
FROM ranked WHERE rank <= 200
""")
def revenue_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 80/20 analysis, SCALE-SAFE: the per-part aggregate grows
    # linearly with data (20M+ parts at sf100), so the top-200 prefix
    # is taken FIRST via orderBy+limit (TakeOrderedAndProject: a
    # per-partition top-k + tiny merge — never a single-partition
    # sort of the full aggregate); the cumulative window then runs
    # over <=200 rows behind a non-foldable constant key.
    # cumsum-of-prefix == prefix-of-cumsum, so values are identical
    # to the full cumulative restricted to rank <= 200.
    from data_warehouse_punta_fina_spark.operators.windows import const_partition

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("_cents")
    )
    top = per.orderBy(F.desc("_cents"), F.asc("l_partkey")).limit(200)
    w = (
        Window.partitionBy(const_partition("l_partkey"))
        .orderBy(F.desc("_cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = per.agg(F.sum("_cents").alias("_tot"))
    ranked = (
        top.crossJoin(F.broadcast(tot))
        .withColumn("_cum", F.sum("_cents").over(w))
        .withColumn("_rank", F.count("*").over(w))
    )
    cum_share = F.col("_cum").cast("double") / F.col("_tot").cast("double")
    # in_top80: strictly before the crossing point, plus the crossing
    # row itself (integer compare: 5*cum_prev < 4*total)
    prev = F.col("_cum") - F.col("_cents")
    return ranked.select(
        "l_partkey",
        F.col("_rank").cast("long").alias("rank"),
        (F.col("_cents").cast("double") / 100.0).alias("revenue"),
        pround6(cum_share).cast("double").alias("cum_share"),
        (5 * prev < 4 * F.col("_tot")).alias("in_top80"),
    )


# RANK-with-ties top-k: every line at the order's top-2 discount
# levels (the ties-included semantics row_number loses)
@query("""
WITH li AS (SELECT * FROM lineitem WHERE l_orderkey % 50 = 0),
d AS (
  SELECT l_orderkey, l_linenumber,
         CAST(FLOOR(l_discount * 10000 + 0.5) AS BIGINT) AS d4
  FROM li
),
r AS (SELECT *, RANK() OVER (PARTITION BY l_orderkey ORDER BY d4 DESC) AS rnk FROM d)
SELECT l_orderkey, l_linenumber, CAST(rnk AS INT) AS rnk,
       CAST(d4 AS DOUBLE) / 10000.0 AS discount
FROM r WHERE rnk <= 2
""")
def top_discount_lines_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANK-with-ties top-k (vs the row_number top-1 family): every
    # line sharing the 2 highest discount levels of its order
    # qualifies — the ties-included SQL semantics ROW_NUMBER loses
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc(F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long"))
    )
    return (
        li.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("rnk").cast("int").alias("rnk"),
            (
                F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long").cast(
                    "double"
                )
                / 10000.0
            ).alias("discount"),
        )
    )
