"""Relational analytics over the TPC-H-ish tables.

These exercise the engine's core relational surface — the same
filter/join/agg/sort/limit primitives the reference composes in its Go
handlers (SURVEY.md §2.2-2.6) — expressed declaratively so Catalyst
gets predicate pushdown, column pruning, and join planning for free.

Scale notes (100 TB):
- every query filters/prunes at the parquet scan (verify with
  .explain: PushedFilters / ReadSchema);
- small dimensions (region/nation/supplier/customer at TPC-H ratios)
  broadcast automatically under AQE; the big fact (lineitem/events)
  never shuffles more than once per agg;
- monetary aggregates are computed as exact BIGINT cents
  (FLOOR(x*100 + 0.5) per row — identical IEEE double math in any
  engine, then an exact integer sum that is independent of partition
  count and reduction order). Float sums are order-dependent and would
  make results nondeterministic across cluster sizes.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from the_hive_spark.registry import query
from the_hive_spark.tables import table


def cents(expr: Column) -> Column:
    """Exact half-up rounding of a money double to integer cents.

    floor(x*100 + 0.5) evaluates identically in Spark and any ANSI
    engine (single IEEE ops), unlike round(), whose tie-breaking
    differs between engines.
    """
    return F.floor(expr * 100 + F.lit(0.5)).cast("bigint")


# per-row revenue in cents: l_extendedprice * (1 - l_discount)
_REV = None  # placeholder so module reads top-to-bottom; see _rev()


def _rev() -> Column:
    return cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))


_REV_SQL = "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# TPC-H-flavored relational queries
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS sum_disc_price_cents,
       CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: one pass over the fact, map-side partial agg, tiny result."""
    li = table(spark, sf_dir, "lineitem")
    charge = cents(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).cast("bigint").alias("sum_base_price_cents"),
            F.sum(_rev()).cast("bigint").alias("sum_disc_price_cents"),
            F.sum(charge).cast("bigint").alias("sum_charge_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
SELECT l_orderkey,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: selective dim filter joins the fact (AQE broadcasts at
    test scale; customer grows with sf so no hard hint), top-10."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
    )


@query(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_quantity > 45
  )
GROUP BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: left-semi join (EXISTS) then count by priority."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way star join; nation/region hinted broadcast, the
    sf-scaling dims left to AQE, fact shuffles once."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
    )


@query(
    "q6_revenue_forecast",
    oracle="""
SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan + pushed filters + single global agg."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(cents(F.col("l_extendedprice") * F.col("l_discount")))
        .cast("bigint")
        .alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer, top 20."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue_cents", "n_name")
    )


@query(
    "q_brand_volume",
    oracle=f"""
SELECT p_brand,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def q_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ part (AQE-broadcast at test scale) → per-brand volume rollup."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
            F.sum(_rev()).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_top_supplier_per_nation",
    oracle=f"""
WITH srev AS (
  SELECT s_nationkey, s_suppkey, s_name,
         CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey, s_name
), ranked AS (
  SELECT n_name, s_name, revenue_cents,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue_cents DESC, s_suppkey) AS rn
  FROM srev JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, s_name, revenue_cents FROM ranked WHERE rn = 1
""",
)
def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group via ranked window (SURVEY §2.5 top-k pattern)."""
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    srev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey", "s_name")
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue_cents"), F.asc("s_suppkey"))
    return (
        srev.join(F.broadcast(nation), srev.s_nationkey == nation.n_nationkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", "s_name", "revenue_cents")
    )


@query(
    "q_mktsegment_yearly",
    oracle="""
SELECT c_mktsegment,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_price_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, order_year
""",
)
def q_mktsegment_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-joined yearly rollup (A9-style tally at warehouse scale)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        .groupBy("c_mktsegment", "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("total_price_cents"),
        )
    )


@query(
    "q16_part_supplier_variety",
    oracle="""
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct aggregation after a fact join.

    count(DISTINCT) adds an expand+dedup stage; the part-side filter
    prunes at the scan; the filtered part table joins unhinted (AQE
    broadcasts it while it fits).
    """
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH avg_qty AS (
  SELECT l_partkey AS ap_partkey, 0.2 * AVG(l_quantity) AS threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM({_REV_SQL}) AS BIGINT) AS small_lot_revenue_cents,
       COUNT(*) AS n_lines
FROM lineitem JOIN avg_qty ON l_partkey = ap_partkey
WHERE l_quantity < threshold
""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery decorrelated into a
    self-agg + join (the rewrite every optimizer applies — expressed
    directly so the plan is one shuffle for the agg, then a join that
    AQE converts to broadcast when the agg side is small)."""
    li = table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("threshold")
    )
    return (
        li.join(avg_qty, F.col("l_partkey") == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            F.sum(_rev()).cast("bigint").alias("small_lot_revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q22_idle_customers",
    oracle="""
SELECT c_nationkey,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_acctbal_cents
FROM customer
WHERE c_acctbal > 0
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
""",
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: NOT EXISTS as a left-anti join — positive-
    balance customers with no urgent order, rolled up by nation. The
    anti join's build side is the filtered orders projection (one
    pruned column) and AQE broadcasts it."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents(F.col("c_acctbal"))).cast("bigint")
            .alias("total_acctbal_cents"),
        )
    )


@query(
    "q_active_parts_semi",
    oracle="""
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE p_retailprice > 990
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_partkey = p_partkey AND l_returnflag = 'R')
GROUP BY p_brand
""",
)
def q_active_parts_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a left-semi join: premium parts with at least one
    returned lineitem. The semi join deduplicates the fact side
    without a distinct — one shuffle, no row multiplication."""
    part = table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 990)
    returned = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_partkey")
    return (
        part.join(returned, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes, adapted to the driver schema (no
# partsupp / commitdate / shipmode columns — each keeps the original
# query's PLAN shape, which is what matters for the engine).
# ---------------------------------------------------------------------------

_QTYC_SQL = "CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)"


def _qtyc() -> Column:
    return cents(F.col("l_quantity"))


@query(
    "q2_min_acctbal_supplier",
    oracle="""
WITH shipped AS (
  SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
         CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
  FROM part
  JOIN lineitem ON l_partkey = p_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE p_type = 'STANDARD' AND p_size <= 5 AND r_name = 'EUROPE'
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
                               ORDER BY acctbal_cents, s_suppkey) AS rk
  FROM shipped
)
SELECT p_partkey, p_name, s_name, acctbal_cents
FROM ranked WHERE rk = 1
ORDER BY acctbal_cents DESC, p_partkey
LIMIT 10
""",
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated MIN subquery): cheapest supplier per
    part, decorrelated into a window rank — one shuffle keyed by
    p_partkey instead of a per-part subquery. part/supplier/nation/
    region all broadcast; lineitem provides the part↔supplier edges
    (the schema has no partsupp) and is deduplicated before ranking so
    the window input is |edges|, not |lineitem|."""
    part = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 5)
    )
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    shipped = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            cents(F.col("s_acctbal")).alias("acctbal_cents"),
        )
        .distinct()
    )
    w = Window.partitionBy("p_partkey").orderBy("acctbal_cents", "s_suppkey")
    return (
        shipped.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("p_partkey", "p_name", "s_name", "acctbal_cents")
        .orderBy(F.desc("acctbal_cents"), F.asc("p_partkey"))
        .limit(10)
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                     AND TIMESTAMP '1997-12-31 00:00:00'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by year.
    Both nation sides broadcast; the disjunctive nation-pair predicate
    lands after the joins but the shipdate range prunes the fact scan.
    One shuffle for the final (nation, nation, year) agg."""
    nat = table(spark, sf_dir, "nation")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1997-12-31 00:00:00").cast("timestamp"),
        )
    )
    joined = (
        li.join(table(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))), F.col("cn_key") == F.col("c_nationkey"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        joined.filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("l_year"))
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
    )


@query(
    "q8_market_share",
    oracle=f"""
SELECT CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN {_REV_SQL} ELSE 0 END)
            * 1000000 // SUM({_REV_SQL}) AS BIGINT) AS mkt_share_ppm,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS total_revenue_cents
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share of a part type inside a
    region, per year. The share is exact bigint ppm (numerator-cents ×
    1e6 integer-divided by denominator-cents) so the ratio is
    reproducible — a float division would not be. Conditional agg
    keeps it one pass; the filtered part side joins unhinted (AQE
    broadcasts it while it fits)."""
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    joined = (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(table(spark, sf_dir, "customer"), F.col("c_custkey") == F.col("o_custkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))), F.col("sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(nat.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region"))), F.col("cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("cn_region"))
    )
    total_rev = F.sum(_rev())
    return (
        joined.groupBy(F.year("l_shipdate").cast("bigint").alias("o_year"))
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN {_REV_SQL} ELSE 0 END)"
                f" * 1000000 div SUM({_REV_SQL}) AS BIGINT)"
            ).alias("mkt_share_ppm"),
            total_rev.cast("bigint").alias("total_revenue_cents"),
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
SELECT n_name AS supp_nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM({_REV_SQL}
                - CAST(FLOOR(p_retailprice * l_quantity * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS profit_cents
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY supp_nation, o_year
""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus retail cost of quantity —
    the schema has no ps_supplycost) on a part-name pattern, rolled up
    by supplier nation and year. The LIKE filter cannot push to a
    parquet min/max but does prune the part build side (AQE-broadcast
    at test scale, shuffle join beyond)."""
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    profit = _rev() - cents(F.col("p_retailprice") * F.col("l_quantity"))
    return (
        table(spark, sf_dir, "lineitem")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(table(spark, sf_dir, "supplier"), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("supp_nation"), F.year("l_shipdate").cast("bigint").alias("o_year"))
        .agg(F.sum(profit).cast("bigint").alias("profit_cents"))
    )


@query(
    "q11_important_parts",
    oracle="""
WITH region_lines AS (
  SELECT l_partkey, CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'AMERICA'
)
SELECT l_partkey AS p_partkey, CAST(SUM(val) AS BIGINT) AS value_cents
FROM region_lines
GROUP BY l_partkey
HAVING SUM(val) * 1000 > (SELECT SUM(val) FROM region_lines)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from one region's
    suppliers exceeds 1/1000 of that region's total (the schema has no
    partsupp, so lineitem value stands in for stock value). The global
    total is a 1-row agg broadcast into the HAVING — exact bigint
    comparison (value × 1000 > total), no float threshold."""
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    lines = (
        table(spark, sf_dir, "lineitem")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", cents(F.col("l_extendedprice")).alias("val"))
    )
    per_part = lines.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum("val").cast("bigint").alias("value_cents")
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("total_cents"))
        .select("p_partkey", "value_cents")
    )


@query(
    "q12_late_priority_lines",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_late_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_late_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY l_returnflag
""",
)
def q12_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment counts split by order priority
    (late = shipped >90 days after order date; the schema has no
    shipmode/commitdate/receiptdate). Single fact-fact join that AQE
    plans as shuffle-hash; conditional aggregation avoids a second
    pass."""
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "orders"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum((high & late).cast("int")).cast("bigint").alias("high_late_count"),
            F.sum((~high & late).cast("int")).cast("bigint").alias("low_late_count"),
        )
    )


@query(
    "q13_order_count_distribution",
    oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                  AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer distribution by order count, keeping
    zero-order customers via the outer join (the join-side predicate
    must live in the ON clause, not WHERE, to preserve them). Two
    aggs: per-customer, then histogram — the second input is already
    tiny."""
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    cust = table(spark, sf_dir, "customer")
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)
            * 1000000 // SUM({_REV_SQL}) AS BIGINT) AS promo_share_ppm,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS total_revenue_cents
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo parts' share of a period's revenue, as exact
    bigint ppm. Date range prunes the fact scan; part joins unhinted
    (AQE decides); the
    whole query is one joined scan-agg with no final shuffle (global
    agg)."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    return (
        li.join(table(spark, sf_dir, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} ELSE 0 END)"
                f" * 1000000 div SUM({_REV_SQL}) AS BIGINT)"
            ).alias("promo_share_ppm"),
            F.sum(_rev()).cast("bigint").alias("total_revenue_cents"),
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, CAST(SUM({_REV_SQL}) AS BIGINT) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_cents
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue. The
    scalar-MAX subquery becomes a 1-row agg broadcast back onto the
    per-supplier totals (ties all returned — no arbitrary pick, so the
    result is deterministic without a tie-break column)."""
    rev = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).cast("bigint").alias("total_revenue_cents"))
    )
    top = rev.agg(F.max("total_revenue_cents").alias("max_rev"))
    return (
        table(spark, sf_dir, "supplier")
        .join(rev, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(top))
        .filter(F.col("total_revenue_cents") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@query(
    "q18_large_volume_customers",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey AS big_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM({_QTYC_SQL}) > 25000
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS totalprice_cents,
       CAST(SUM({_QTYC_SQL}) AS BIGINT) AS sum_qty_cents
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN big      ON big_orderkey = o_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, totalprice_cents
ORDER BY totalprice_cents DESC, o_orderkey
LIMIT 100
""",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 250 (cents-scaled
    exact HAVING), with their customers. ONE lineitem pass: the
    textbook plan re-joins lineitem to re-sum quantities per order, but
    that re-aggregate is exactly the HAVING aggregate — so the
    qualifying set carries its sum and only the (tiny) orders/customer
    lookups remain, which AQE turns into broadcast joins. Top-100 by
    price with orderkey tie-break."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("big_orderkey"))
        .agg(F.sum(_qtyc()).alias("oq"))
        .filter(F.col("oq") > 25000)
    )
    return (
        big.join(
            table(spark, sf_dir, "orders"),
            F.col("o_orderkey") == F.col("big_orderkey"),
        )
        .join(
            table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            cents(F.col("o_totalprice")).alias("totalprice_cents"),
            F.col("oq").cast("bigint").alias("sum_qty_cents"),
        )
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of brand/size/quantity conjuncts across
    the join. Catalyst extracts the common l_quantity bounds and the
    p_brand IN-set as pushable prefilters on each side; the residual
    OR evaluates post-join inside codegen."""
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        table(spark, sf_dir, "lineitem")
        .join(table(spark, sf_dir, "part"), F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(
            F.sum(_rev()).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@query(
    "q20_heavy_shippers",
    oracle=f"""
WITH pair_qty AS (
  SELECT l_suppkey, l_partkey, CAST(SUM({_QTYC_SQL}) AS BIGINT) AS sqty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%red%'
  GROUP BY l_suppkey, l_partkey
),
heavy AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT l_suppkey, sqty,
               SUM(sqty)  OVER (PARTITION BY l_partkey) AS part_total,
               COUNT(*)   OVER (PARTITION BY l_partkey) AS n_supp
        FROM pair_qty)
  WHERE sqty * n_supp > 3 * part_total AND n_supp >= 2
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN heavy ON l_suppkey = s_suppkey
JOIN nation ON n_nationkey = s_nationkey
""",
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers shipping an above-average share of
    some contested 'red' part (no partsupp → the availqty-vs-half-
    shipped test becomes >3× the part's average supplier share among
    ≥2 suppliers, kept exact with integer cross-multiplication
    instead of a float average). Agg keyed by
    (supplier, part), windows over the part reuse that partitioning,
    then a semi-join lifts qualifying suppliers."""
    part = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    # Repartition on l_partkey alone: it satisfies the (suppkey,
    # partkey) agg's ClusteredDistribution (subset rule) AND the
    # part-keyed window's — one exchange where agg + window would each
    # have inserted their own.
    pair = (
        table(spark, sf_dir, "lineitem")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .repartition("l_partkey")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_qtyc()).alias("sqty"))
    )
    w = Window.partitionBy("l_partkey")
    heavy = (
        pair.withColumn("part_total", F.sum("sqty").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .filter((F.col("sqty") * F.col("n_supp") > 3 * F.col("part_total"))
                & (F.col("n_supp") >= 2))
        .select("l_suppkey")
        .distinct()
    )
    return (
        table(spark, sf_dir, "supplier")
        .join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(F.broadcast(table(spark, sf_dir, "nation")), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
WITH fo AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
),
late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN fo ON o_orderkey = l_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
),
multi AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) >= 2
),
sole_late AS (
  SELECT l_orderkey FROM late
  GROUP BY l_orderkey HAVING COUNT(DISTINCT l_suppkey) = 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM late
JOIN multi     USING (l_orderkey)
JOIN sole_late USING (l_orderkey)
JOIN supplier  ON s_suppkey = l_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who alone held up multi-supplier finalized
    orders (late = shipped >90 days past order date standing in for
    receipt>commit). The EXISTS / NOT-EXISTS pair decorrelates into
    ONE per-order aggregate: after the lineitem ⋈ finalized-orders
    join (which restricts to 'F' orders — sound, because every output
    order must have a late line and late lines only come from 'F'
    orders), per-order stats come from TWO STACKED PLAIN aggregations
    — (order, supplier) first, then order — instead of multi-distinct
    aggregates, which Catalyst would execute by Expanding the joined
    fact ×3 before the shuffle (measured ~30% slower, and strictly
    worse at scale: the plain first agg combines map-side and shrinks
    to distinct (order, supplier) pairs before anything shuffles).
    The explicit repartition on l_orderkey feeds BOTH stacked aggs
    from one exchange — hash partitioning on a subset of the grouping
    keys satisfies ClusteredDistribution, so the (order, supplier)
    agg and the order agg both run exchange-free on it (4 → 3
    shuffles, measured ~40% faster; the forfeited map-side combine
    was worthless here because (order, supplier) pairs are nearly
    distinct already — ~4 lines/order, mostly distinct suppliers).
    The whole query still moves lineitem through the cluster once, vs
    the textbook plan's three passes plus two semi-joins."""
    li = table(spark, sf_dir, "lineitem")
    fo = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    per_order = (
        li.join(fo, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            is_late.cast("long").alias("late"),
        )
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum("late").alias("n_late"))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("ns"),
            F.sum((F.col("n_late") > 0).cast("long")).alias("nl"),
            F.sum("n_late").alias("late_rows"),
            F.max(F.when(F.col("n_late") > 0, F.col("l_suppkey"))).alias(
                "late_supp"
            ),
        )
        .filter((F.col("ns") >= 2) & (F.col("nl") == 1))
    )
    # r11: no pre-aggregation by late_supp before the supplier join —
    # the broadcast join is row-cheap and the s_name aggregation's
    # map-side combine collapses to <=|supplier| rows per partition
    # anyway, so the extra exchange bought nothing (measured pairwise
    # ~7% faster across 5 alternating reps; 3 -> 2 exchanges).
    return (
        per_order.join(
            table(spark, sf_dir, "supplier"),
            F.col("s_suppkey") == F.col("late_supp"),
        )
        .groupBy("s_name")
        .agg(F.sum("late_rows").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "q_rollup_revenue",
    oracle=f"""
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR), 'ALL') AS order_year,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY ROLLUP(o_orderpriority, EXTRACT(year FROM o_orderdate))
""",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (priority → priority×year → grand
    total) in one pass — Catalyst expands the grouping sets with a
    single Expand + one shuffle, the multi-level-report shape the
    reference computed with separate handler queries. NULL grouping
    slots are COALESCEd to 'ALL' labels so the hash never compares
    engine NULL renderings."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("string")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .rollup(F.col("o_orderpriority").alias("p"), yr.alias("y"))
        .agg(
            F.sum(_rev()).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .select(
            F.coalesce("p", F.lit("ALL")).alias("priority"),
            F.coalesce("y", F.lit("ALL")).alias("order_year"),
            "revenue_cents",
            "n_lines",
        )
    )


@query(
    "q_running_monthly_revenue",
    oracle=f"""
WITH monthly AS (
  SELECT o_orderpriority AS priority,
         strftime(o_orderdate, '%Y-%m') AS month,
         SUM({_REV_SQL}) AS revenue_cents
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  GROUP BY priority, month
)
SELECT priority, month,
       CAST(revenue_cents AS BIGINT) AS revenue_cents,
       CAST(SUM(revenue_cents) OVER (
         PARTITION BY priority ORDER BY month
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_revenue_cents
FROM monthly
""",
)
def q_running_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative revenue per priority by month — aggregation
    feeding a PARTITIONed running-sum window. The window partitions on
    the (low-cardinality) priority only AFTER the monthly rollup has
    shrunk the data to |priorities|×|months| rows, so the sort inside
    each window partition is trivial at any input scale."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    monthly = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(F.sum(_rev()).alias("revenue_cents"))
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return monthly.select(
        "priority",
        "month",
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        F.sum("revenue_cents").over(w).cast("bigint").alias("running_revenue_cents"),
    )


@query(
    "q_cube_returnflag_status",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def q_cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets —
    detail, each single-dimension margin, grand total — in ONE scan
    and one shuffle via Catalyst's Expand (4× row fan-out of the
    post-scan rows, not 4 scans of the 100 TB fact). Complements
    q_rollup_revenue's hierarchy with full cross-margins."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
            F.sum(_rev()).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "revenue_cents",
            "n_lines",
        )
    )


@query(
    "q_order_interarrival",
    oracle="""
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_days
  FROM orders
)
SELECT c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_days) AS BIGINT) AS total_gap_days,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
FROM gaps JOIN customer ON c_custkey = o_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
""",
)
def q_order_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: days between a customer's consecutive
    orders, rolled up by market segment. The LAG window shuffles
    orders once on o_custkey; customer joins AFTER the gap rows are
    computed (and is broadcast when small), so the fact is never
    re-shuffled for the dimension. Day-granularity diffs are exact
    integers on both engines."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return (
        gaps.join(
            cust.select("c_custkey", "c_mktsegment"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("gap_days").cast("bigint").alias("total_gap_days"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
    )


@query(
    "q_customer_value_deciles",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS spend_cents
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, spend_cents,
         NTILE(10) OVER (ORDER BY spend_cents, o_custkey) AS decile
  FROM spend
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(spend_cents) AS BIGINT) AS total_spend_cents,
       CAST(MIN(spend_cents) AS BIGINT) AS min_spend_cents,
       CAST(MAX(spend_cents) AS BIGINT) AS max_spend_cents
FROM tiled GROUP BY decile
""",
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value deciles: per-customer spend, NTILE(10)
    band assignment, per-band totals. The banding is the EXACT
    distributed form: a range-partitioned global rank
    (functions/ids.py::dense_sequential_ids — no single-partition
    window) folded through integer NTILE arithmetic
    (ids.ntile_from_rank), hash-identical to the oracle's NTILE.
    The (spend, custkey) tie-break makes tile assignment total-order
    deterministic so both engines tile identically."""
    from the_hive_spark.functions.ids import (
        dense_sequential_ids,
        ntile_from_rank,
    )

    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("spend_cents")
    )
    ranked = dense_sequential_ids(
        spend, ["spend_cents", "o_custkey"], id_col="_rank"
    )
    n = ranked.count()  # checkpointed by dense_sequential_ids — cheap
    tiled = ranked.select(
        "spend_cents", ntile_from_rank("_rank", n, 10).alias("decile")
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("spend_cents").cast("bigint").alias("total_spend_cents"),
        F.min("spend_cents").cast("bigint").alias("min_spend_cents"),
        F.max("spend_cents").cast("bigint").alias("max_spend_cents"),
    )


_COPURCHASE_PAIRS_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY part_a, part_b
"""


def copurchase_pairs(li: DataFrame) -> DataFrame:
    """(part_a, part_b, n_orders) co-purchase pair counts — the
    market-basket co-occurrence primitive.

    NOT the naive lineitem⋈lineitem self-join (which scans and
    shuffles the fact twice): one groupBy collapses each order to its
    sorted distinct-part basket, then an in-row generator expression
    expands the C(k,2) pairs. Baskets are bounded (≤7 parts per order
    in this schema; retail baskets are tens), so the expansion is
    per-row constant work and the whole pipeline is ONE shuffle of the
    fact plus one of the (much smaller) pair stream. A pathological
    million-item basket would need a per-basket cap or a switch to the
    pair self-join with a salt — noted, not hit here."""
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                " y -> struct(x AS part_a, y AS part_b))))"
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


def copurchase_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase pair counts through the materialization store: the
    pair table is the shared base of the whole co-purchase graph
    family (top-k pairs, triangle count, k-core) — one persisted build
    per corpus snapshot, every consumer reads the cache."""
    from the_hive_spark.functions.matstore import materialized

    return materialized(
        spark,
        ("copurchase_pairs", sf_dir),
        lambda: copurchase_pairs(table(spark, sf_dir, "lineitem")),
    )


def copurchase_edges_min2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded (co-ordered ≥2 times) canonically-oriented (u < v)
    co-purchase edge list — the ONE shared graph base for triangle
    count, k-core, Jaccard neighbors, label propagation, and the
    clustering coefficient. Right-size-persisted and matstore-routed
    under a single key so every consumer reads the identical cached
    edge set; the threshold lives HERE and nowhere else (a forked
    copy with a different filter would silently split the cache)."""
    from the_hive_spark.functions.matstore import materialized
    from the_hive_spark.functions.partitioning import persist_right_sized

    return materialized(
        spark,
        ("triangle_edges_min2", sf_dir),
        lambda: persist_right_sized(
            copurchase_pairs_cached(spark, sf_dir)
            .filter(F.col("n_orders") >= 2)
            .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        )[0],
    )


@query(
    "q_copurchase_pairs",
    oracle=_COPURCHASE_PAIRS_SQL
    + "ORDER BY n_orders DESC, part_a, part_b\nLIMIT 25\n",
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 part pairs most often bought in the same order (the
    'frequently bought together' query). The oracle is the textbook
    pair self-join; the Spark plan is the basket-explode form in
    :func:`copurchase_pairs` — same result set, half the fact-table
    shuffles. TakeOrdered with a (count, part_a, part_b) total order
    keeps the LIMIT deterministic."""
    return copurchase_pairs_cached(spark, sf_dir).orderBy(
        F.desc("n_orders"), F.asc("part_a"), F.asc("part_b")
    ).limit(25)


@query(
    "q_lapsed_customers",
    oracle="""
WITH y94 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
), y95 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
), lapsed AS (
  SELECT o_custkey FROM y94 EXCEPT SELECT o_custkey FROM y95
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment
FROM customer c JOIN lapsed l ON c.c_custkey = l.o_custkey
""",
)
def q_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn cohort via set difference: customers active in 1994 with
    no 1995 order. The oracle states it as EXCEPT; the Spark plan is
    the LEFT ANTI join — the physical form every engine lowers EXCEPT
    to, written directly so the intent (and the single hash shuffle on
    custkey) is explicit. Both year filters push down to the orders
    scan; the customer dimension joins unhinted (AQE decides)."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")

    def active(year: int) -> DataFrame:
        return (
            orders.filter(
                (F.col("o_orderdate") >= f"{year}-01-01")
                & (F.col("o_orderdate") < f"{year + 1}-01-01")
            )
            .select("o_custkey")
            .distinct()
        )

    lapsed = active(1994).join(active(1995), "o_custkey", "left_anti")
    return cust.join(
        lapsed, cust["c_custkey"] == lapsed["o_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment")


# Benford's-law expected first-digit shares in ppm: log10(1 + 1/d),
# hardcoded as integer constants so neither engine evaluates a log.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE_SQL = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


@query(
    "q_benford_price_audit",
    oracle=f"""
WITH d AS (
  SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d
), obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM d GROUP BY digit
)
SELECT obs.digit, obs.n_orders,
       CAST(FLOOR(1000000.0 * obs.n_orders / ANY_VALUE(tot.n) + 0.5) AS BIGINT)
         AS obs_ppm,
       CAST({_BENFORD_CASE_SQL} AS BIGINT) AS exp_ppm,
       CAST(ABS(CAST(FLOOR(1000000.0 * obs.n_orders / ANY_VALUE(tot.n) + 0.5) AS BIGINT)
                - {_BENFORD_CASE_SQL}) AS BIGINT) AS dev_ppm
FROM obs CROSS JOIN tot
GROUP BY obs.digit, obs.n_orders
""",
)
def q_benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-digit share
    per digit vs the log10(1+1/d) expectation (hardcoded integer ppm —
    no engine evaluates a logarithm), with the absolute deviation.
    The data-quality / fraud screen a warehouse runs on monetary
    columns: synthetic, capped, or hand-entered amounts bend the
    first-digit curve long before totals look wrong. (TPC-H's uniform
    price generator fails Benford by construction — large deviations
    on this data are the demonstration, not a bug.)

    One scan → 9-key map-side-combined count; everything after the
    aggregation operates on nine rows.
    """
    d = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            )
            .cast("bigint")
            .alias("digit")
        )
    )
    total = d.count()  # single-scalar job
    exp_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _BENFORD_PPM]),
            F.array(*[F.lit(v) for v in _BENFORD_PPM.values()]),
        ),
        F.col("digit"),
    ).cast("bigint")
    obs = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    obs_ppm = F.floor(
        1000000.0 * F.col("n_orders") / F.lit(total) + F.lit(0.5)
    ).cast("bigint")
    return obs.select(
        "digit",
        "n_orders",
        obs_ppm.alias("obs_ppm"),
        exp_col.alias("exp_ppm"),
        F.abs(obs_ppm - exp_col).cast("bigint").alias("dev_ppm"),
    )


@query(
    "q_supply_concentration_hhi",
    oracle="""
WITH sq AS (
  SELECT s.s_nationkey AS nationkey,
         l.l_suppkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY nationkey, l.l_suppkey
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(q) AS BIGINT) AS total_qty,
       CAST(FLOOR(1000000.0 * SUM(q * q) / (SUM(q) * SUM(q)) + 0.5) AS BIGINT)
         AS hhi_ppm
FROM sq JOIN nation n ON n.n_nationkey = sq.nationkey
GROUP BY n.n_name
""",
)
def q_supply_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration audit: the Herfindahl-Hirschman index of
    shipped quantity across suppliers, per nation (ppm; 1e6 = a single
    supplier carries everything) — the market-concentration metric a
    procurement/risk dashboard watches, since a nation whose supply
    concentrates in one vendor is a single point of failure.

    Integer-exact despite being a sum of squared shares: HHI =
    Σq_s²/(Σq_s)² — both sums are exact int64 (quantities are
    integral), squared and divided ONCE at the end. One fact shuffle
    on (nation, supplier), an unhinted supplier dim join (AQE decides)
    plus a broadcast nation join, and a nation-level
    rollup.
    """
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = table(spark, sf_dir, "nation")
    sq = (
        li.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    hhi = 1000000.0 * F.sum(F.col("q") * F.col("q")) / (F.sum("q") * F.sum("q"))
    return (
        sq.join(
            F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("q").cast("bigint").alias("total_qty"),
            F.floor(hhi + F.lit(0.5)).cast("bigint").alias("hhi_ppm"),
        )
    )


@query(
    "q_customer_spend_gini",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
         COUNT(*) OVER () AS n,
         SUM(cents) OVER () AS tot
  FROM spend
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(MAX(tot) AS BIGINT) AS total_cents,
       CAST(FLOOR(1000000.0 * (2 * SUM(i * cents) - (MAX(n) + 1) * MAX(tot))
                  / (MAX(n) * MAX(tot)) + 0.5) AS BIGINT) AS gini_ppm
FROM ranked
""",
)
def q_customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend inequality: the Gini coefficient of per-customer
    order totals (ppm; 0 = equal, →1e6 = one whale) — the revenue-
    concentration number behind "top 1% of customers drive X%" — via
    the sorted-rank identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx), which
    needs ONE global sort-rank instead of the O(n²) pairwise |xᵢ−xⱼ|
    definition. All sums are exact int64 cents; one final division.

    The rank is the EXACT distributed form (functions/ids.py::
    dense_sequential_ids — range-partition on (cents, custkey),
    per-partition row_number, per-partition offsets): no
    single-partition window anywhere, same total order as the
    oracle's ROW_NUMBER, so hashes are unchanged.
    """
    from the_hive_spark.functions.ids import dense_sequential_ids

    spend = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    ranked = dense_sequential_ids(
        spend, ["cents", "o_custkey"], id_col="i"
    ).select("cents", "i")
    # Σ(i·cents) accumulates in decimal(38,0): int64 silently wraps
    # around sf≈10 while the DuckDB oracle promotes SUM to HUGEINT —
    # decimal keeps both sides exact, and the ratio only drops to
    # double after the exact integer numerator/denominator are formed
    # (same value ⇒ same IEEE rounding on both engines).
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("tot"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("cents")
        ).alias("ixs"),
    )
    num = (
        2 * F.col("ixs")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("tot")
    ).cast("double")
    den = (F.col("n").cast("decimal(38,0)") * F.col("tot")).cast("double")
    gini = 1000000.0 * num / den
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("tot").cast("bigint").alias("total_cents"),
        F.floor(gini + F.lit(0.5)).cast("bigint").alias("gini_ppm"),
    )


@query(
    "q_basket_affinity_lift",
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pc AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
), item AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_i FROM op GROUP BY l_partkey
), baskets AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_b FROM op
)
SELECT p.part_a, p.part_b, p.n_orders,
       ia.n_i AS n_a, ib.n_i AS n_b_item,
       CAST(FLOOR(1000.0 * p.n_orders * ANY_VALUE(baskets.n_b)
                  / (ia.n_i * ib.n_i) + 0.5) AS BIGINT) AS lift_milli
FROM pc p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN baskets
WHERE p.n_orders >= 3
GROUP BY p.part_a, p.part_b, p.n_orders, ia.n_i, ib.n_i
""",
)
def q_basket_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule lift for co-purchased part pairs (support ≥ 3
    orders): lift = P(a,b)/(P(a)·P(b)) = n_ab·N/(n_a·n_b) in integer
    milli-units — the normalization that separates genuinely
    associated items from pairs that co-occur merely because both are
    popular, which raw co-purchase counts (q_copurchase_pairs) cannot.

    Reuses the materialized co-purchase pair table; the per-item
    basket counts are a one-pass distinct aggregation joined unhinted
    (part-dimension-sized — grows with sf, so AQE decides broadcast vs
    shuffle), and N is a single scalar. int64 headroom: the only
    integer product is n_a·n_b < 2⁶³, exact while both items appear
    in <3·10⁹ baskets (≈sf 2000); ANSI fails loud beyond
    (tests/test_overflow_bounds.py). Cross-multiplied
    integers, one final division per row.
    """
    li = table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs_cached(spark, sf_dir).filter(
        F.col("n_orders") >= 3
    )
    item = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_i")
    )
    # N as an in-plan broadcast scalar (r11, guide §2.4): the old
    # driver-side .count() was a separate job scanning + shuffling the
    # whole fact projection to produce one integer; as a 1-row
    # aggregate inside the same plan it rides the query (and the
    # distinct-orderkey exchange is subject to reuse), costing one
    # BroadcastExchange instead of a full extra pass.
    nb = li.agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_baskets")
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_i").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_i").alias("n_b_item")
    )
    lift = (
        1000.0
        * F.col("n_orders")
        * F.col("n_baskets")
        / (F.col("n_a") * F.col("n_b_item"))
    )
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            "n_orders",
            "n_a",
            "n_b_item",
            F.floor(lift + F.lit(0.5)).cast("bigint").alias("lift_milli"),
        )
    )


@query(
    "q_referential_integrity_audit",
    oracle="""
SELECT * FROM (
  SELECT 'lineitem.l_orderkey -> orders' AS fk,
         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
           AS n_orphans
  UNION ALL
  SELECT 'lineitem.l_partkey -> part',
         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM part p
                                 WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
  UNION ALL
  SELECT 'lineitem.l_suppkey -> supplier',
         CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
         CAST((SELECT COUNT(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                 WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
  UNION ALL
  SELECT 'orders.o_custkey -> customer',
         CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
         CAST((SELECT COUNT(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
         CAST((SELECT COUNT(*) FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM nation n
                                 WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
  UNION ALL
  SELECT 'supplier.s_nationkey -> nation',
         CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
         CAST((SELECT COUNT(*) FROM supplier s
               WHERE NOT EXISTS (SELECT 1 FROM nation n
                                 WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
)
""",
)
def q_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan-row counts for every
    foreign-key relationship in the schema — the load-validation gate
    a warehouse runs after every ingest, because a broken FK silently
    drops rows from every inner join downstream (the worst kind of
    wrong: plausible totals, missing data).

    ONE pass per fact table (the round-2 verdict's ask — the old form
    ran 12 jobs and read lineitem six times): all of a fact's FK checks
    ride a single scan as left joins against 1-column dimension key
    sets with a presence flag, folded by one conditional aggregation
    (total + per-FK orphan counts), then unpivoted with ``stack``. No
    driver-side counts at all — the whole audit is one action.
    Only fixed-cardinality nation (25 rows) carries a broadcast hint;
    every sf-scaling key set (orders, customer, part, supplier) is
    left unhinted so AQE picks broadcast at test scale and a shuffle
    join at the scale where those key sets stop fitting in memory. The
    oracle states each check as NOT EXISTS — the form anti-joins (and
    this flag-join) lower from; dimension keys are primary keys, so
    the left joins cannot multiply fact rows.
    """
    from functools import reduce

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")

    # (fact, [(label, fk_col, dim, pk_col, broadcastable)])
    audits = [
        (
            li,
            [
                ("lineitem.l_orderkey -> orders", "l_orderkey", orders,
                 "o_orderkey", False),
                ("lineitem.l_partkey -> part", "l_partkey", part,
                 "p_partkey", False),
                ("lineitem.l_suppkey -> supplier", "l_suppkey", supp,
                 "s_suppkey", False),
            ],
        ),
        (
            orders,
            [("orders.o_custkey -> customer", "o_custkey", cust,
              "c_custkey", False)],
        ),
        (
            cust,
            [("customer.c_nationkey -> nation", "c_nationkey", nat,
              "n_nationkey", True)],
        ),
        (
            supp,
            [("supplier.s_nationkey -> nation", "s_nationkey", nat,
              "n_nationkey", True)],
        ),
    ]

    parts: list[DataFrame] = []
    for fact, fks in audits:
        df = fact.select(*[fk for _, fk, _, _, _ in fks])
        aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
        for i, (_, fk, dim, pk, bcast) in enumerate(fks):
            # distinct: the audit runs on DIRTY data by definition — a
            # duplicated parent key must not multiply fact rows through
            # the left join (NOT EXISTS, the oracle's form, is
            # duplicate-safe; this makes the flag join match it)
            keys = dim.select(F.col(pk).alias(fk)).distinct().withColumn(
                f"_ok{i}", F.lit(1)
            )
            df = df.join(F.broadcast(keys) if bcast else keys, fk, "left")
            aggs.append(
                F.sum(F.when(F.col(f"_ok{i}").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"_orph{i}")
            )
        row = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{label}', _orph{i}" for i, (label, *_) in enumerate(fks)
        )
        parts.append(
            row.select(
                F.expr(
                    f"stack({len(fks)}, {stack_args}) AS (fk, n_orphans)"
                ),
                F.col("_n").alias("n_rows"),
            ).select("fk", "n_rows", "n_orphans")
        )
    return reduce(DataFrame.unionAll, parts)


# ---------------------------------------------------------------------------
# TPC-H completion (round 3): the classic query shapes the module still
# lacked, adapted to this schema (no partsupp table and a reduced
# column set -- the supply-side queries derive (part, supplier) facts
# from lineitem). Same determinism contract as the rest of the module:
# exact integer cents/ppm, explicit tie-breaks wherever a LIMIT appears.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         CAST(MIN(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS min_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
), best AS (
  SELECT l_partkey, CAST(MIN(min_cents) AS BIGINT) AS best_cents
  FROM cost GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, n.n_name AS nation,
       b.best_cents
FROM part p
JOIN best b ON b.l_partkey = p.p_partkey
JOIN cost c ON c.l_partkey = p.p_partkey AND c.min_cents = b.best_cents
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
ORDER BY b.best_cents, p.p_partkey, s.s_suppkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted — no partsupp): for each size-15 STANDARD
    part, the supplier(s) with the cheapest observed sale, decorated
    with supplier + nation. The classic correlated-MIN shape: group
    to per-(part, supplier) minima, reduce to per-part best, join the
    best back to recover the argmin rows — the decorrelation every
    engine rewrites Q2's scalar subquery into.

    Scale shape: one fact shuffle builds `cost`; `best` is a second
    agg of the (much smaller) cost table; the join-back is
    cost ⋈ best on the part key; nation hinted broadcast, part/supplier
    unhinted (sf-scaling — AQE decides).
    All cents arithmetic exact BIGINT; top-100 with full tie-break.
    """
    li = table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cents(F.col("l_extendedprice"))).cast("bigint").alias("min_cents")
    )
    best = cost.groupBy("l_partkey").agg(
        F.min("min_cents").cast("bigint").alias("best_cents")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_brand")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        cost.join(
            best,
            (cost["l_partkey"] == best["l_partkey"])
            & (cost["min_cents"] == best["best_cents"]),
        )
        .drop(best["l_partkey"])
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "nation", "best_cents")
        .orderBy("best_cents", "p_partkey", "s_suppkey")
        .limit(100)
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
WITH c_orders AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM c_orders GROUP BY c_count
""",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of per-customer order counts
    (excluding one priority class in place of the reference's comment
    filter), INCLUDING zero-order customers — which is why the left
    outer join cannot be replaced by a plain groupBy on orders.

    Shape: filter pushed below the join, one key-partitioned outer
    join, two cascaded rollups (custkey → count, count → histogram);
    the second agg's input is |customers| rows and shrinks to the
    count domain.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    c_orders = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "q16_supplier_part_variety",
    oracle="""
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM ps JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY p_brand, p_type, p_size
""",
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted — the (part, supplier) relation derives from
    lineitem instead of the absent partsupp): how many distinct
    suppliers stock each qualifying (brand, type, size) bucket.

    The DISTINCT projection collapses the fact to at most
    |parts|×|suppliers-per-part| rows before the part filter
    broadcasts in; COUNT(DISTINCT) then partial-aggregates on the
    composite key.
    """
    li = table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("bigint").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@query(
    "q22_lapsed_rich_customers",
    oracle="""
WITH pos AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
         CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer WHERE c_acctbal > 0
), stats AS (
  SELECT CAST(SUM(bal_cents) AS HUGEINT) AS tot, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pos
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(bal_cents) AS BIGINT) AS total_acctbal_cents
FROM pos CROSS JOIN stats
WHERE bal_cents * cnt > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY nationkey
""",
)
def q22_lapsed_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted — nation key stands in for the absent phone
    prefix): above-average-balance customers with no recent orders,
    rolled up by nation. The above-average predicate is EXACT integer
    cross-multiplication (bal·n > Σbal — no float mean), the recency
    test is an anti-join against the date-filtered orders (NOT EXISTS
    lowering), and the 1-row stats broadcast.
    """
    pos = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey",
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            cents(F.col("c_acctbal")).alias("bal_cents"),
        )
    )
    stats = pos.agg(
        F.sum(F.col("bal_cents").cast("decimal(38,0)")).alias("tot"),
        F.count(F.lit(1)).alias("cnt"),
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        pos.crossJoin(F.broadcast(stats))
        .filter(
            F.col("bal_cents").cast("decimal(38,0)") * F.col("cnt")
            > F.col("tot")
        )
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            F.sum("bal_cents").cast("bigint").alias("total_acctbal_cents"),
        )
    )


@query(
    "q_rolling_revenue_7d",
    oracle="""
WITH daily AS (
  SELECT c_mktsegment AS segment,
         CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT) AS day_idx,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY segment, day_idx
)
SELECT segment, day_idx, day_cents,
       CAST(SUM(day_cents) OVER (
         PARTITION BY segment ORDER BY day_idx
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
         AS rolling_7d_cents
FROM daily
""",
)
def q_rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue per market segment: the trailing-window
    smoothing behind every revenue dashboard, expressed as a RANGE
    window over an integer day index so gap days (no orders) still
    bound the frame by VALUE, not by row count — a ROWS frame would
    silently widen across gaps.

    Scale shape: one fact rollup to (segment, day) — the corpus pass —
    then the window runs PARTITIONED by segment over day-grid-sized
    data: no single-partition stage, and each segment's frame scan is
    linear in its days.
    """
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # customer is left unhinted (same rationale as the referential
    # audit's fact-to-fact checks): AQE broadcasts it at test scale and
    # falls back to a shuffle join at the scale where the (custkey,
    # segment) projection stops fitting in memory.
    daily = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
            )
            .cast("bigint")
            .alias("day_idx"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("day_cents"))
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "segment",
        "day_idx",
        "day_cents",
        F.sum("day_cents").over(w).cast("bigint").alias("rolling_7d_cents"),
    )


@query(
    "q_cohort_ltv_matrix",
    oracle="""
WITH o AS (
  SELECT o_custkey,
         CAST((YEAR(CAST(o_orderdate AS TIMESTAMP)) - 1995) * 12
              + MONTH(CAST(o_orderdate AS TIMESTAMP)) - 1 AS BIGINT) AS m,
         CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), firsts AS (
  SELECT o_custkey, CAST(MIN(m) AS BIGINT) AS cohort_m FROM o GROUP BY o_custkey
)
SELECT f.cohort_m,
       CAST(o.m - f.cohort_m AS BIGINT) AS month_offset,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
       CAST(SUM(o.cents) AS BIGINT) AS revenue_cents
FROM o JOIN firsts f ON f.o_custkey = o.o_custkey
GROUP BY f.cohort_m, month_offset
""",
)
def q_cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, revenue and active-customer counts per months-since-
    acquisition — THE retention-economics readout (each cohort row
    read left-to-right is its revenue decay curve; columns compare
    cohort quality over time).

    Scale shape: one pass projects (custkey, month, cents); the
    cohort assignment is a groupBy on the same key the join then
    reuses — custkey-partitioned both sides, one shuffle of the
    projection each, then a grid-sized rollup (months² cells).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - 1995) * 12 + F.month("o_orderdate") - 1
        )
        .cast("bigint")
        .alias("m"),
        cents(F.col("o_totalprice")).alias("cents"),
    )
    firsts = o.groupBy("o_custkey").agg(
        F.min("m").cast("bigint").alias("cohort_m")
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_m",
            (F.col("m") - F.col("cohort_m")).cast("bigint").alias("month_offset"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "q_next_part_pairs",
    oracle="""
WITH op AS (
  SELECT DISTINCT o.o_custkey, o.o_orderkey, o.o_orderdate, l.l_partkey
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), ord AS (
  SELECT DISTINCT o_custkey, o_orderkey, o_orderdate FROM op
), seq AS (
  SELECT o_orderkey,
         LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS next_ok
  FROM ord
)
SELECT a.l_partkey AS part_prev, b.l_partkey AS part_next,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq s
JOIN op a ON a.o_orderkey = s.o_orderkey
JOIN op b ON b.o_orderkey = s.next_ok
GROUP BY part_prev, part_next
HAVING COUNT(*) >= 2
""",
)
def q_next_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential market-basket mining: (part bought, part bought in
    the customer's NEXT order) transition counts with support ≥ 2 —
    the training pairs of a next-product recommender, and the
    order-respecting complement of q_copurchase_pairs (which ignores
    sequence).

    Scale shape: consecutive orders come from ONE custkey-partitioned
    LEAD window over the (much smaller) distinct-order projection —
    never an order self-join by date; the pair fan-out is
    |basket_prev|×|basket_next| per order pair, bounded by the basket
    cap, and the two orderkey joins hash on the same key.
    """
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # NOT persisted (r11, measured): Catalyst already shares the fact
    # join's exchange across the three consumers (ReusedExchange), so
    # an explicit persist added a materialization without removing a
    # scan — bench pairs 2.45 s -> 3.1 s in two independent runs.
    op = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "o_orderkey", "o_orderdate", "l_partkey")
        .distinct()
    )
    ord_ = op.select("o_custkey", "o_orderkey", "o_orderdate").distinct()
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = ord_.select(
        "o_orderkey", F.lead("o_orderkey").over(w).alias("next_ok")
    ).filter(F.col("next_ok").isNotNull())
    a = op.select(
        F.col("o_orderkey").alias("ok_a"), F.col("l_partkey").alias("part_prev")
    )
    b = op.select(
        F.col("o_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_next")
    )
    return (
        seq.join(a, F.col("o_orderkey") == F.col("ok_a"))
        .join(b, F.col("next_ok") == F.col("ok_b"))
        .groupBy("part_prev", "part_next")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
        .filter(F.col("n_transitions") >= 2)
    )


# ANALYZE-profile column sets (events excluded: its TIMESTAMP(NANOS)
# column is read through a µs conversion on the Spark side, so
# distinct-counts would legitimately differ from DuckDB's nanos view)
_STATS_TABLES: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag",
                 "l_linestatus"],
    "documents": ["doc_id", "lang", "source", "n_chars"],
}


def _table_stats_oracle() -> str:
    parts = []
    for tbl, cols in _STATS_TABLES.items():
        for col in cols:
            parts.append(f"""
SELECT '{tbl}' AS tbl, '{col}' AS col,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv,
       CAST(COUNT(*) - COUNT({col}) AS BIGINT) AS n_nulls
FROM {tbl}""")
    return "\nUNION ALL".join(parts)


@query("q_table_stats_profile", oracle=_table_stats_oracle())
def q_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE, the engine's own: exact per-column row counts,
    distinct counts, and null counts for every profiled table — the
    statistics table behind every broadcast-vs-shuffle, skew-salt, and
    bucketing decision this engine makes by measurement (the CBO input
    a catalog would persist).

    Scale shape: ONE pass per table computes ALL of its columns'
    metrics in a single aggregation (the oracle re-states it
    per-column for clarity; Spark's expand handles the multi-distinct
    in one job), then stacks to long format. At 100 TB you'd swap
    exact ndv for approx_count_distinct per the doccomment — the plan
    shape is identical.
    """
    from functools import reduce

    outs: list[DataFrame] = []
    for tbl, cols in _STATS_TABLES.items():
        t = table(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
        for c in cols:
            aggs.append(F.count_distinct(F.col(c)).cast("bigint").alias(f"_ndv_{c}"))
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(f"_nn_{c}")
            )
        row = t.agg(*aggs)
        stack_args = ", ".join(
            f"'{c}', _ndv_{c}, _nn_{c}" for c in cols
        )
        outs.append(
            row.select(
                F.lit(tbl).alias("tbl"),
                F.expr(
                    f"stack({len(cols)}, {stack_args}) AS (col, ndv, n_nulls)"
                ),
                F.col("_n").alias("n_rows"),
            ).select("tbl", "col", "n_rows", "ndv", "n_nulls")
        )
    return reduce(DataFrame.unionAll, outs)


# (label, table, key columns for uniqueness, not-null columns)
_PK_CHECKS = [
    ("customer.c_custkey", "customer", ["c_custkey"], ["c_custkey"]),
    ("orders.o_orderkey", "orders", ["o_orderkey"], ["o_orderkey", "o_custkey"]),
    ("part.p_partkey", "part", ["p_partkey"], ["p_partkey"]),
    ("supplier.s_suppkey", "supplier", ["s_suppkey"], ["s_suppkey"]),
    ("lineitem.(l_orderkey,l_linenumber)", "lineitem",
     ["l_orderkey", "l_linenumber"], ["l_orderkey", "l_partkey", "l_suppkey"]),
    ("documents.doc_id", "documents", ["doc_id"], ["doc_id"]),
    ("embeddings.vec_id", "embeddings", ["vec_id"], ["vec_id"]),
    ("events.event_id", "events", ["event_id"], ["event_id", "ts", "user_id"]),
]


def _constraint_oracle() -> str:
    parts = []
    for label, tbl, keys, nn in _PK_CHECKS:
        key_tuple = "(" + ", ".join(keys) + ")" if len(keys) > 1 else keys[0]
        null_any = " OR ".join(f"{c} IS NULL" for c in nn)
        parts.append(f"""
SELECT '{label}' AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT(DISTINCT {key_tuple}) AS BIGINT) AS n_dup_keys,
       CAST(SUM(CASE WHEN {null_any} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_required
FROM {tbl}""")
    return "\nUNION ALL\n".join(parts)


@query("q_constraint_audit", oracle=_constraint_oracle())
def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-constraint audit: primary-key uniqueness (rows minus
    distinct keys) and required-column null counts for every table —
    the companion gate to q_referential_integrity_audit (FKs) and
    q_table_stats_profile (stats): together they are the
    load-validation suite a warehouse runs after every batch, and the
    first thing to consult when a join starts fanning out (a duplicate
    PK silently multiplies every downstream join on it).

    Scale shape: ONE aggregation per table computes rows + distinct
    keys + null flags together (no per-check jobs, no self-joins);
    composite keys count distinct on the struct so multi-column PKs
    cost the same pass. COUNT(DISTINCT) partial-aggregates map-side;
    at 100 TB swap in approx_count_distinct when an exact dup COUNT
    (vs an exact zero/nonzero signal) isn't required — plan unchanged.
    """
    outs: list[DataFrame] = []
    for label, tbl, keys, nn in _PK_CHECKS:
        t = table(spark, sf_dir, tbl)
        null_any = None
        for c in nn:
            cond = F.col(c).isNull()
            null_any = cond if null_any is None else (null_any | cond)
        row = t.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            # struct-distinct, NOT multi-arg count_distinct: the multi-
            # arg form SKIPS rows with any NULL component, while the
            # oracle's COUNT(DISTINCT (a, b)) counts NULL-bearing ROW
            # values — and null keys are exactly what this audit flags
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*[F.col(k) for k in keys]))
            ).cast("bigint").alias("n_dup_keys"),
            F.sum(F.when(null_any, 1).otherwise(0))
            .cast("bigint")
            .alias("n_null_required"),
        )
        outs.append(row.select(F.lit(label).alias("pk"), "*"))
    from functools import reduce

    return reduce(DataFrame.unionAll, outs)


KANON_K = 5  # re-identification threshold: classes smaller than this


@query(
    "q_kanonymity_audit",
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
       CAST(SUM(CASE WHEN class_size < {KANON_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_classes_at_risk,
       CAST(SUM(CASE WHEN class_size < {KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS n_rows_at_risk,
       (MIN(class_size) >= {KANON_K}) AS is_k_anonymous
FROM classes
""",
)
def q_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nationkey,
    mktsegment): the size of the smallest equivalence class, how many
    classes (and rows) fall below k={KANON_K}, and the pass flag — the
    re-identification-risk gate (Sweeney, k-anonymity, 2002) a
    training-data release pipeline runs before shipping any table
    containing user attributes: a row in a class smaller than k is
    linkable to an individual by joining public attributes.

    Scale shape: one map-side-combined groupBy on the quasi-identifier
    tuple, then a class-grid rollup — two exchanges total regardless
    of corpus size. Generalizes to any QI set by swapping the groupBy
    columns; the min-class-size output is exactly the k a release can
    claim.
    """
    classes = (
        table(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    )
    at_risk = F.when(F.col("class_size") < KANON_K, 1).otherwise(0)
    rows_risk = F.when(
        F.col("class_size") < KANON_K, F.col("class_size")
    ).otherwise(0)
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.sum(at_risk).cast("bigint").alias("n_classes_at_risk"),
        F.sum(rows_risk).cast("bigint").alias("n_rows_at_risk"),
        (F.min("class_size") >= KANON_K).alias("is_k_anonymous"),
    )


# (table, key column) pairs whose shuffle-key skew matters to a join
_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("events", "event_type"),
]


def _skew_oracle() -> str:
    parts = []
    for tbl, key in _SKEW_KEYS:
        parts.append(f"""
SELECT '{tbl}.{key}' AS shuffle_key,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       CAST(FLOOR(1000000.0 * MAX(c) * COUNT(*) / SUM(c) + 0.5) AS BIGINT)
         AS skew_ppm
FROM (SELECT COUNT(*) AS c FROM {tbl} GROUP BY {key})""")
    return "\nUNION ALL\n".join(parts)


@query("q_join_skew_profile", oracle=_skew_oracle())
def q_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew profile: for every join/aggregation key that
    matters, the hottest key's row count relative to a perfectly even
    spread (skew_ppm = max·n_keys/total; 1,000,000 = uniform) — the
    measured input behind every salting decision in functions/skew.py
    and the number AQE's skew-join threshold is compared against. A
    key at 50× (5·10⁷ ppm) means the straggler task runs 50× the
    median and salting (or skew-join splitting) pays for itself.

    Scale shape: one map-side-combined groupBy per profiled key, then
    a key-grid rollup (n_keys rows → 1) — the same two-exchange
    profile q_table_stats_profile uses, unioned across keys. At
    100 TB swap the exact per-key counts for a count-min/Misra-Gries
    top-k (events_heavy_hitters' machinery) if n_keys itself is too
    large to aggregate exactly — the output schema is unchanged.
    """
    from functools import reduce

    outs: list[DataFrame] = []
    for tbl, key in _SKEW_KEYS:
        per_key = (
            table(spark, sf_dir, tbl)
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            per_key.agg(
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("c").cast("bigint").alias("max_key_rows"),
                F.floor(
                    1000000.0 * F.max("c") * F.count(F.lit(1)) / F.sum("c")
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias("skew_ppm"),
            ).select(F.lit(f"{tbl}.{key}").alias("shuffle_key"), "*")
        )
    return reduce(DataFrame.unionAll, outs)


FREQ_ITEMSET_MIN_COUNT = 12  # absolute basket-support threshold
# FP-growth lattice-width cap: frequent-item count past which the
# FP-tree state OOMs rather than slows (measured: 2.0e6 items killed
# an 80g local JVM; 2.0e5 completed in 119 s on 20g — see the
# q_frequent_itemsets docstring). Midpoint with a safety margin.
_FREQ_ITEMSET_MAX_ITEMS = 500_000


@query(
    "q_frequent_itemsets",
    oracle=f"""
WITH baskets AS (
  SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS items
  FROM lineitem GROUP BY l_orderkey
), n AS (
  SELECT COUNT(*) AS n_baskets FROM baskets
), singles AS (
  SELECT CAST(l_partkey AS VARCHAR) AS itemset, 1 AS set_size,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS freq
  FROM lineitem GROUP BY l_partkey
  HAVING COUNT(DISTINCT l_orderkey) >= {FREQ_ITEMSET_MIN_COUNT}
), pairs AS (
  SELECT CAST(a.l_partkey AS VARCHAR) || '|' || CAST(b.l_partkey AS VARCHAR)
           AS itemset,
         2 AS set_size,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {FREQ_ITEMSET_MIN_COUNT}
)
SELECT itemset, CAST(set_size AS BIGINT) AS set_size, freq FROM singles
UNION ALL
SELECT itemset, CAST(set_size AS BIGINT) AS set_size, freq FROM pairs
""",
)
def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent itemsets (size ≤ 2) over order baskets via MLlib
    FPGrowth — market-basket mining with the library operator instead
    of hand-rolled joins, demonstrating that the engine composes with
    spark.ml where a battle-tested distributed implementation exists
    (FP-tree: 2 scans + group-wise conditional trees, no candidate
    explosion — Han et al., SIGMOD'00).

    Determinism: the frequent-itemset SET and its frequencies are a
    pure function of the data and threshold, whatever order FP-growth
    emits them in. The threshold is pinned to an ABSOLUTE count
    ({FREQ_ITEMSET_MIN_COUNT}) by setting minSupport just under
    count/N, so boundary baskets can't flip between engines; itemsets
    are sorted in-row and rendered as a canonical string. The oracle
    re-derives sizes 1-2 with plain SQL — the library's answer must
    match exact relational algebra. Size ≤ 2 keeps the oracle
    polynomial; FPGrowth itself emits all sizes (the filter is on OUR
    side, so a regression that invented phantom large itemsets would
    still surface as missing/mismatched small ones).

    Lattice-width guard (same contract as the dedup enumeration
    guards — measure the blow-up term linearly, refuse before paying
    for a dead job): FP-growth's tree/conditional-base state scales
    with the number of FREQUENT ITEMS, and a degenerate corpus can
    make that explode while every scan stays cheap — measured on the
    sf10 clone corpus (SCALE_SF10_CANCELLED.json): 2.0M frequent
    items (every cloned part id keeps full support) OOMed the
    local-mode JVM at BOTH 20g and 80g heap, where sf1's 200k items
    completed in 119 s on 20g. The guard counts frequent items with
    one aggregate on the already-persisted baskets (the same first
    scan FP-growth itself runs) and refuses past the cap, naming the
    remediations. Real corpora grow distinct frequent items
    sublinearly (Heaps' law); clone corpora grow them ×K.
    """
    from pyspark.ml.fpm import FPGrowth

    li = table(spark, sf_dir, "lineitem")
    from pyspark import StorageLevel

    baskets = (
        li.select("l_orderkey", "l_partkey")
        # no .distinct(): collect_set dedups within each basket, and a
        # pre-distinct is a full extra shuffle of the fact projection
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("items"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_baskets = baskets.count()  # scalar job (also caches for fit())
    n_freq_items = (
        baskets.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= FREQ_ITEMSET_MIN_COUNT)
        .count()
    )
    if n_freq_items > _FREQ_ITEMSET_MAX_ITEMS:
        baskets.unpersist()
        raise ValueError(
            f"q_frequent_itemsets: {n_freq_items:.2e} frequent items "
            f"(cap {_FREQ_ITEMSET_MAX_ITEMS:.0e}) — the FP-growth "
            "lattice is item-dense at this size (measured: 2.0e6 "
            "frequent items OOMs an 80g local JVM); raise the support "
            "threshold, mine per-category shards independently, or "
            "meter the pair space first (q_basket_pair_mass)"
        )
    fp = FPGrowth(
        itemsCol="items",
        # clamped for tiny inputs, same reasoning as PrefixSpan's
        minSupport=min(
            1.0, (FREQ_ITEMSET_MIN_COUNT - 0.5) / max(n_baskets, 1)
        ),
        minConfidence=0.5,
    )
    model = fp.fit(baskets)
    # freqItemsets is LAZY (fit only runs the count + frequent-item
    # scan); eagerly checkpoint the small filtered result so the
    # FP-tree job runs WHILE baskets is still cached, then release it
    out = (
        model.freqItemsets.filter(F.size("items") <= 2)
        .filter(F.col("freq") >= FREQ_ITEMSET_MIN_COUNT)
        .select(
            F.concat_ws(
                "|", F.transform(F.array_sort("items"), lambda x: x.cast("string"))
            ).alias("itemset"),
            F.size("items").cast("bigint").alias("set_size"),
            F.col("freq").cast("bigint").alias("freq"),
        )
        .localCheckpoint(eager=True)
    )
    baskets.unpersist()
    return out


@query(
    "q_price_quantity_correlation",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS HUGEINT)
           AS sx,
         CAST(SUM(CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)
                  * CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS HUGEINT)
           AS sxx,
         CAST(SUM(CAST(l_quantity AS HUGEINT)
                  * CAST(l_quantity AS HUGEINT)) AS HUGEINT) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
            THEN NULL
            ELSE CAST(FLOOR(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) + 0.5)
                 AS BIGINT) END AS pearson_milli
FROM m
""",
)
def q_price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-moment Pearson correlation of line price vs quantity per
    return flag (milli units) — the column-relationship statistic a
    CBO or feature-selection pass consumes, computed the engine-stable
    way: every moment (Σx, Σy, Σxy, Σx², Σy², n) is an EXACT integer
    sum in decimal(38,0)/HUGEINT (cents × integral quantities —
    order-independent, unlike float covariance accumulators), and the
    single float step is the final ratio+sqrt on identical exact
    operands. A zero variance yields NULL on both engines.

    int64-and-beyond headroom: the widest product, (Σcents)², stays
    inside 38 digits while Σcents < 10¹⁹ (≈10¹² rows at TPC-H price
    magnitudes); past that, ANSI decimal overflow fails loud. One
    map-side-combined aggregation, grid-sized arithmetic after.
    """
    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    qty = F.col("l_quantity").cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(qty).alias("sy"),
        F.sum(cents * qty).alias("sxy"),
        F.sum(cents * cents).alias("sxx"),
        F.sum(qty * qty).alias("syy"),
    )
    var_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.when(
            (var_x == 0) | (var_y == 0), F.lit(None).cast("bigint")
        ).otherwise(
            F.floor(
                1000.0 * num.cast("double")
                / F.sqrt(var_x.cast("double") * var_y.cast("double"))
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("pearson_milli"),
    )


DUP_PAYMENT_WINDOW_DAYS = 7


@query(
    "q_duplicate_payment_audit",
    oracle=f"""
SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       a.o_custkey AS custkey,
       CAST(ROUND(a.o_totalprice * 100) AS BIGINT) AS amount_cents,
       CAST(ABS(date_diff('day', CAST(a.o_orderdate AS TIMESTAMP),
                          CAST(b.o_orderdate AS TIMESTAMP))) AS BIGINT)
         AS days_apart
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND ROUND(a.o_totalprice * 100) = ROUND(b.o_totalprice * 100)
 AND a.o_orderkey < b.o_orderkey
 AND ABS(date_diff('day', CAST(a.o_orderdate AS TIMESTAMP),
                   CAST(b.o_orderdate AS TIMESTAMP)))
       <= {DUP_PAYMENT_WINDOW_DAYS}
""",
)
def q_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection: order pairs from the SAME customer
    for the IDENTICAL amount within {DUP_PAYMENT_WINDOW_DAYS} days —
    the classic accounts-payable audit (double-submitted invoices,
    retry storms double-charging a card). Amounts compare as exact
    cents, never floats.

    Scale shape: the self-join is keyed on (custkey, amount_cents) —
    an equi-join whose blocks are true-collision groups (same shape as
    the entity-resolution blocker: block size ≈ answer multiplicity),
    with the day-window as a post-filter inside blocks. Never a
    customer-wide or corpus-wide cross join; skew in this join IS the
    fraud signal.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderdate",
    )
    a, b = o.alias("a"), o.alias("b")
    days = F.abs(F.datediff(F.col("a.o_orderdate"), F.col("b.o_orderdate")))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.cents") == F.col("b.cents"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(days <= DUP_PAYMENT_WINDOW_DAYS)
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.cents").alias("amount_cents"),
            days.cast("bigint").alias("days_apart"),
        )
    )


@query(
    "q_revenue_waterfall",
    oracle="""
SELECT CAST(year(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS ship_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS gross_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * CAST(ROUND(l_discount * 100) AS BIGINT) // 100)
            AS BIGINT) AS discount_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                - CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                  * CAST(ROUND(l_discount * 100) AS BIGINT) // 100)
            AS BIGINT) AS net_cents,
       CAST(SUM((CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 - CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * CAST(ROUND(l_discount * 100) AS BIGINT) // 100)
                * CAST(ROUND(l_tax * 100) AS BIGINT) // 100)
            AS BIGINT) AS tax_cents
FROM lineitem
GROUP BY ship_year
""",
)
def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per ship year: gross → discount given → net →
    tax collected, every step in EXACT integer cents with per-row
    quantization BEFORE the sum (the round-3 review rule: quantize
    each row, then integer-sum — a float Σprice·(1−disc)·(1+tax)
    drifts with merge order). Discounts and tax apply as integer
    basis-point products floor-divided back to cents, identically on
    both engines. One map-side-combined pass over the fact; the
    waterfall a finance dashboard draws left-to-right.
    """
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_cents = F.expr(
        "(CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        " * CAST(ROUND(l_discount * 100) AS BIGINT)) div 100"
    )
    net_cents = cents - disc_cents
    tax_cents = F.expr(
        "((CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        "  - (CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
        "     * CAST(ROUND(l_discount * 100) AS BIGINT)) div 100)"
        " * CAST(ROUND(l_tax * 100) AS BIGINT)) div 100"
    )
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(
            F.sum(cents).cast("bigint").alias("gross_cents"),
            F.sum(disc_cents).cast("bigint").alias("discount_cents"),
            F.sum(net_cents).cast("bigint").alias("net_cents"),
            F.sum(tax_cents).cast("bigint").alias("tax_cents"),
        )
    )


@query(
    "q_trade_flow_matrix",
    oracle=f"""
SELECT ns.n_name AS supplier_nation,
       nc.n_name AS customer_nation,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
GROUP BY ns.n_name, nc.n_name
""",
)
def q_trade_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supplier-nation → customer-nation trade matrix (Q7's
    two-nation volume generalized to all 25×25 flows) — the
    trade-balance / internationalization dashboard behind "which
    corridors carry the revenue".

    Plan: the fact stream joins orders (its one fact-fact shuffle),
    then picks up customer/supplier (AQE-planned) and the two nation
    ROLES as two broadcasts of the same 25-row dim — one scan each,
    aliased, never shuffled. Output is grouped on the two nation
    names: at most 625 rows from any corpus size, so the final
    aggregation collapses map-side."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supplier_nation"),
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_name").alias("customer_nation"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .groupBy("supplier_nation", "customer_nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum(_rev()).cast("bigint").alias("revenue_cents"),
        )
    )




@query(
    "q_part_substitution_candidates",
    oracle=f"""
WITH p AS (
  SELECT p_partkey, p_brand,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
)
SELECT a.p_partkey AS part_a, b.p_partkey AS part_b, a.p_brand,
       CAST(abs(a.cents - b.cents) AS BIGINT) AS price_diff_cents,
       CAST(FLOOR(1000000.0 * abs(a.cents - b.cents)
                  / LEAST(a.cents, b.cents) + 0.5) AS BIGINT) AS rel_diff_ppm
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE abs(a.cents - b.cents) * 500 <= LEAST(a.cents, b.cents)
ORDER BY rel_diff_ppm ASC, part_a ASC, part_b ASC
LIMIT 50
""",
)
def q_part_substitution_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitution candidates: same-brand part pairs priced within
    0.2% of each other, closest 50 — the interchangeable-SKU detector
    behind assortment pruning and price-anomaly review.

    The point is the JOIN SHAPE: "same brand AND |price_a − price_b| ≤
    ε·price" is a range predicate, and range joins degenerate to
    per-key cross products at scale. The scalable form BANDS the
    range: bucket each price GEOMETRICALLY (floor(log(cents)/log(B))),
    each row also probes its RIGHT-neighbor bucket, and the join
    becomes a plain equi-join on (brand, bucket) — candidate pairs
    bounded by band occupancy, exact predicate re-checked after. Same
    banding algebra as the LSH family, applied to a numeric range;
    probing rightward + post-join canonicalization generates every
    pair exactly once.

    The predicate is RELATIVE (|Δ| ≤ price/500), so the bands must be
    too: log-price bands have width that tracks the LOCAL price, so
    band occupancy tracks true match density at any corpus size. (The
    round-5 version derived an ABSOLUTE width from max(price)/500 —
    completeness then forces ~500 bands TOTAL regardless of N, so
    occupancy is N/500 and candidates grow as N²/500: measured 6.4e9
    candidates / 106 s at sf1. Geometric banding is output-
    proportional instead — ~107 s at sf1 in the r10 sweeps (both
    SCALE_SF1_SWEEP rows; an earlier unloaded run read 60 s, so the
    figure is contention-sensitive), where the 10×-clone corpus
    genuinely qualifies ~4e8 pairs (every part gains 9 same-price
    clones), so the remaining cost IS the output, not the candidate
    generation. Plan construction is not lazy: one eager probe counts
    zero-difference pairs first and picks the plan, see below.)"""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    # Top-k pushdown (r12, guide §1.2 "the distributed algorithm"):
    # the query returns only the 50 smallest rel_diff_ppm pairs, and
    # rel_diff_ppm = 0 exactly for pairs with IDENTICAL (brand, cents)
    # — pairs the banded join enumerates along with every other
    # qualifying pair (measured 36.5 M qualifying pairs at 2M parts,
    # 27 s, PART_SUBST_SCALE.json, of which 9.5 M are zero-tier). One
    # cheap map-side-combinable aggregate counts the zero-ppm pairs
    # z = Σ C(group,2); when z ≥ 50 the whole answer lives in the
    # zero tier and the banded join never runs. Exactness of the
    # restriction to the 64 smallest partkeys per (brand, cents)
    # group: the tie order is (ppm, part_a, part_b) and within one
    # group the j-th-smallest member's pairs are preceded by the
    # C(j−1, 2) pairs among smaller members, so a top-50 pair has
    # part_a among the group's 11 smallest and part_b at most 50
    # positions later — 61 ≤ 64 members cover every winner (pinned
    # against the banded path in tests/test_round12_opt.py). z < 50
    # (the natural small-SF regime — sf0.01 has z < 1 in expectation)
    # falls through to the banded plan unchanged, so the adaptive
    # probe is the same measure-then-choose contract as the dedup
    # family's dense-vocab probe.
    zero_pairs = (
        p.groupBy("p_brand", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("c * (c - 1) div 2")).alias("z"))
        .collect()[0]["z"]
        or 0
    )
    if zero_pairs >= 50:
        from pyspark.sql import Window

        w = Window.partitionBy("p_brand", "cents").orderBy("p_partkey")
        m = p.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 64)
        a = m.select(
            "p_brand", "cents",
            F.col("p_partkey").alias("part_a"), F.col("rn").alias("rn_a"),
        )
        b = m.select(
            "p_brand", "cents",
            F.col("p_partkey").alias("part_b"), F.col("rn").alias("rn_b"),
        )
        return (
            a.join(b, ["p_brand", "cents"])
            .filter(F.col("rn_a") < F.col("rn_b"))
            .select(
                "part_a",
                "part_b",
                "p_brand",
                F.lit(0).cast("bigint").alias("price_diff_cents"),
                F.lit(0).cast("bigint").alias("rel_diff_ppm"),
            )
            .orderBy(F.asc("rel_diff_ppm"), F.asc("part_a"), F.asc("part_b"))
            .limit(50)
        )
    return (
        banded_substitution_pairs(p)
        .orderBy(F.asc("rel_diff_ppm"), F.asc("part_a"), F.asc("part_b"))
        .limit(50)
    )


def banded_substitution_pairs(p: DataFrame) -> DataFrame:
    """The banding core of q_part_substitution_candidates, exposed on
    an arbitrary (p_partkey, p_brand, cents) frame so the property
    test can drive it with price ranges the parquet corpus doesn't
    have (both far above and far below the TPC-H $900–$2100 envelope).
    Returns the full qualifying pair set.

    Band = floor(log(cents)/log(1.003)). Two prices within the 0.2%
    match envelope have a log-ratio ≤ log(1.002) = 0.667 band widths,
    so a qualifying pair spans AT MOST one band boundary and probing
    the right neighbor is complete. The 1.003 base (vs the tight
    1.002) leaves a 0.33-band margin that makes floating-point
    boundary error (~1e-15 relative on the log) irrelevant; the exact
    integer predicate is re-checked post-join, so wider bands cost
    candidates, never correctness. cents ≤ 0 is clamped to 1 before
    the log: a zero price can only match another zero (|Δ|·500 ≤ 0
    forces Δ = 0), and all clamped rows share a band."""
    band = F.floor(
        F.log(F.greatest(F.col("cents"), F.lit(1)).cast("double"))
        / math.log(1.003)
    ).cast("bigint")
    a = p.select(
        "p_brand",
        F.col("p_partkey").alias("part_a"),
        F.col("cents").alias("cents_a"),
        F.explode(F.array(band, band + 1)).alias("band"),
    )
    b = p.select(
        "p_brand",
        F.col("p_partkey").alias("part_b"),
        F.col("cents").alias("cents_b"),
        band.alias("band"),
    )
    diff = F.abs(F.col("cents_a") - F.col("cents_b"))
    least = F.least("cents_a", "cents_b")
    # a cross-band pair is generated in ONE orientation only (the
    # lower-bucket row is always the probing side), so canonicalize by
    # partkey AFTER the join — diff and least are orientation-
    # symmetric — then dedupe the same-band pairs that arrive twice
    return (
        a.join(b, ["p_brand", "band"])
        .filter(F.col("part_a") != F.col("part_b"))
        .filter(diff * 500 <= least)
        .select(
            F.least("part_a", "part_b").alias("part_a"),
            F.greatest("part_a", "part_b").alias("part_b"),
            "p_brand",
            diff.cast("bigint").alias("price_diff_cents"),
            # identical prices are 0 ppm by definition — guards the
            # 0/0 corner (a zero price can only ever match another
            # zero); for any positive divisor the formula agrees
            F.when(diff == 0, F.lit(0))
            .otherwise(F.floor(1000000.0 * diff / least + F.lit(0.5)))
            .cast("bigint")
            .alias("rel_diff_ppm"),
        )
        .dropDuplicates(["part_a", "part_b"])
    )


@query(
    "q_nation_yoy_growth",
    oracle=f"""
WITH rev AS (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
         CAST(SUM({_REV_SQL}) AS BIGINT) AS revenue_cents
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
), lagged AS (
  SELECT nation, year, revenue_cents,
         LAG(revenue_cents) OVER (PARTITION BY nation ORDER BY year)
           AS prev_cents
  FROM rev
)
SELECT nation, year, revenue_cents,
       CAST(revenue_cents - prev_cents AS BIGINT) AS delta_cents,
       CAST(FLOOR(1000000.0 * (revenue_cents - prev_cents) / prev_cents
                  + 0.5) AS BIGINT) AS growth_ppm
FROM lagged
WHERE prev_cents IS NOT NULL
""",
)
def q_nation_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per customer nation — the trend
    read behind every regional dashboard: which markets are growing,
    which are stalling, by how many ppm.

    Plan: revenue collapses to one (nation, year) row per pair —
    ~25×|years| rows from ANY corpus size — via a single
    map-side-combined aggregation of the fact stream (orders join is
    the one fact-fact shuffle; customer AQE-planned; nation
    broadcast). The LAG window then runs on that tiny grid, so the
    window is free. Growth is floor(1e6·Δ/prev + 0.5) computed in
    IEEE doubles — the identical mul/div/add/floor sequence in both
    engines — because Δ may be negative and integer-division
    semantics on negatives differ across engines (Spark `div`
    truncates, ANSI `//` floors); the double form is engine-stable.
    First observed year per nation is dropped (no prior to grow
    from)."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("year"),
        )
        .agg(F.sum(_rev()).cast("bigint").alias("revenue_cents"))
    )
    w = Window.partitionBy("nation").orderBy("year")
    lagged = rev.withColumn(
        "prev_cents", F.lag("revenue_cents").over(w)
    ).filter(F.col("prev_cents").isNotNull())
    delta = F.col("revenue_cents") - F.col("prev_cents")
    return lagged.select(
        "nation",
        "year",
        "revenue_cents",
        delta.cast("bigint").alias("delta_cents"),
        F.floor(1000000.0 * delta / F.col("prev_cents") + F.lit(0.5))
        .cast("bigint")
        .alias("growth_ppm"),
    )


_US_PER_DAY = 86_400_000_000.0


@query(
    "q_order_fulfillment_latency",
    oracle=f"""
WITH per_order AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(FLOOR(epoch_us(MAX(l_shipdate) - o_orderdate)
                    / {_US_PER_DAY}) AS BIGINT) AS days
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderpriority, o_orderdate
), ranked AS (
  SELECT o_orderpriority, days,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY days, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM per_order
)
SELECT o_orderpriority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(FLOOR(SUM(days) * 1.0 / MAX(n)) AS BIGINT) AS mean_days,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN days END) AS BIGINT) AS p50_days,
       CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN days END) AS BIGINT) AS p90_days
FROM ranked GROUP BY o_orderpriority
""",
)
def q_order_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-last-shipment latency distribution per order priority
    (n, mean, exact p50/p90 in whole days) — the SLA read: do URGENT
    orders actually ship faster, and by how much at the tail?

    Completion = MAX(l_shipdate) over the order's lines, computed in
    the same groupBy that carries priority — ONE orderkey shuffle
    shared with the join. Percentiles follow the repo's exact
    nearest-rank contract (rank window per priority — 5 groups — with
    o_orderkey tie-break). Day counts use floor(Δµs / 86.4e9) in
    doubles, identical in both engines and correct for the NEGATIVE
    latencies this corpus contains (ship before order), where
    truncating integer division would disagree with floor."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    per_order = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.floor(
                (
                    F.unix_micros(F.col("last_ship").cast("timestamp"))
                    - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                )
                / F.lit(_US_PER_DAY)
            ).cast("bigint").alias("days"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("days", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = per_order.select(
        "o_orderpriority",
        "days",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.floor(F.sum("days") * 1.0 / F.max("n")).cast("bigint").alias("mean_days"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("days"))
        ).cast("bigint").alias("p50_days"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("days"))
        ).cast("bigint").alias("p90_days"),
    )


@query(
    "q_weighted_median_price",
    oracle="""
WITH px AS (
  SELECT p_brand,
         CAST(FLOOR(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)
           AS unit_cents,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem JOIN part ON l_partkey = p_partkey
), grp AS (
  SELECT p_brand, unit_cents, SUM(w) AS w
  FROM px GROUP BY p_brand, unit_cents
), cum AS (
  SELECT p_brand, unit_cents, w,
         SUM(w) OVER (PARTITION BY p_brand ORDER BY unit_cents) AS cw,
         SUM(w) OVER (PARTITION BY p_brand) AS tw
  FROM grp
)
SELECT p_brand,
       CAST(MAX(tw) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN 2 * cw >= tw THEN unit_cents END) AS BIGINT)
         AS weighted_median_cents
FROM cum GROUP BY p_brand
""",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median unit price per brand — the inventory-
    valuation median ("half the UNITS sold cost more than this"),
    which an unweighted median over line items gets wrong whenever
    cheap parts ship in bigger quantities. Weighted percentiles are a
    distinct primitive from events_value_percentiles' rank-counting:
    the pick is the smallest value whose CUMULATIVE weight reaches
    half the total (2·cw ≥ tw in integers — no halving division).

    Scale shape: the fact stream collapses to DISTINCT (brand,
    unit_cents) rows first — one well-distributed shuffle keyed far
    finer than the 25 brands — so the cumulative-sum windows run over
    the collapsed price table (bounded by price cardinality, not row
    count), sidestepping the 25-partition skew a direct per-brand
    window over line items would have. Unit price is
    floor(extprice/qty·100 + 0.5): identical IEEE div/mul/add/floor
    in both engines; quantities are integral doubles, cast exactly."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    px = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        "p_brand",
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("unit_cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    grp = px.groupBy("p_brand", "unit_cents").agg(F.sum("w").alias("w"))
    wc = Window.partitionBy("p_brand").orderBy("unit_cents")
    wt = Window.partitionBy("p_brand")
    cum = grp.select(
        "p_brand",
        "unit_cents",
        F.sum("w").over(wc).alias("cw"),
        F.sum("w").over(wt).alias("tw"),
    )
    return cum.groupBy("p_brand").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("unit_cents"))
        ).cast("bigint").alias("weighted_median_cents"),
    )


HISTOGRAM_BINS = 10


@query(
    "q_equidepth_histogram",
    oracle=f"""
WITH v AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem
), banded AS (
  SELECT cents,
         NTILE({HISTOGRAM_BINS}) OVER (ORDER BY cents, l_orderkey,
                                       l_linenumber) AS bin
  FROM v
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(cents) AS BIGINT) AS lo_cents,
       CAST(MAX(cents) AS BIGINT) AS hi_cents
FROM banded GROUP BY bin
""",
)
def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of line price: 10 bins of
    equal row count with their value boundaries — the ANALYZE-stats
    primitive every optimizer's selectivity estimation rests on, and
    the natural partner to q_table_stats_profile's scalar column
    stats.

    A bare NTILE over the fact table is THE single-partition funnel —
    the oracle states it, the engine must not run it. Instead the
    exact global rank comes from functions/ids.py::
    dense_sequential_ids (range-partition + per-partition row_number +
    O(partitions) offsets) banded by ids.ntile_from_rank's integer
    arithmetic — hash-identical to the window form (same machinery as
    events_rfm_segments' quintiles), then ONE 10-group aggregation.
    Ranks carry the (orderkey, linenumber) tie-break so equal prices
    band identically in both engines."""
    from the_hive_spark.functions.ids import (
        dense_sequential_ids,
        ntile_from_rank,
    )

    li = table(spark, sf_dir, "lineitem").select(
        cents(F.col("l_extendedprice")).alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    # with_total rides the numbering pass's own per-partition counts —
    # a separate li.count() would be a second full fact scan
    ranked, n = dense_sequential_ids(
        li, ["cents", "l_orderkey", "l_linenumber"], id_col="_rank",
        with_total=True,
    )
    return (
        ranked.select(
            "cents", ntile_from_rank("_rank", n, HISTOGRAM_BINS).alias("bin")
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
        )
        .select(F.col("bin").cast("bigint").alias("bin"), "n_rows", "lo_cents", "hi_cents")
    )


@query(
    "q_part_skyline",
    oracle="""
WITH p AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
), best AS (
  SELECT size, MIN(cents) AS min_cents FROM p GROUP BY size
), env AS (
  SELECT size, min_cents,
         MIN(min_cents) OVER (
           ORDER BY size DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS min_cents_gt
  FROM best
)
SELECT p.p_partkey, p.size, p.cents
FROM p JOIN env ON env.size = p.size
WHERE p.cents = env.min_cents
  AND (env.min_cents_gt IS NULL OR p.cents < env.min_cents_gt)
ORDER BY p.size DESC, p.p_partkey ASC
""",
)
def q_part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of the part dimension: parts with no
    competitor that is simultaneously at-least-as-large AND
    at-most-as-expensive (one strict) — the "efficient frontier" read
    behind assortment pruning (which SKUs are strictly worse than an
    alternative) and price-ladder design. Duplicate (size, price)
    points do not dominate each other, so full ties stay in.

    The point is the SHAPE: naive skyline is the O(n²) NOT-EXISTS
    dominance self-join. For a 2-D skyline the dominance test
    factorizes through the attribute DOMAIN: part p survives iff its
    price is the minimum at its size AND strictly below the best
    price at any LARGER size. So the plan is one map-side-combined
    aggregation to the per-size minimum (the size domain is bounded —
    50 values here, any bounded/bucketable domain in general), a
    suffix-min window over that TINY domain (never over the fact
    rows), and one equi-join back that AQE broadcasts. At 100 TB the
    fact table is touched exactly twice, both times embarrassingly
    parallel; nothing global ever sorts the raw rows.
    """
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("bigint").alias("size"),
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    best = p.groupBy("size").agg(F.min("cents").alias("min_cents"))
    w = (
        Window.orderBy(F.desc("size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # single-partition window is FINE here: it runs over the
    # aggregated size DOMAIN (≤ distinct sizes rows), not the facts
    env = best.withColumn("min_cents_gt", F.min("min_cents").over(w))
    return (
        p.join(env, "size")
        .filter(
            (F.col("cents") == F.col("min_cents"))
            & (
                F.col("min_cents_gt").isNull()
                | (F.col("cents") < F.col("min_cents_gt"))
            )
        )
        .select("p_partkey", "size", "cents")
        .orderBy(F.desc("size"), F.asc("p_partkey"))
    )


@query(
    "q_order_backlog_daily",
    oracle="""
WITH life AS (
  SELECT o_orderkey, o_orderdate,
         (SELECT MAX(l_shipdate) FROM lineitem
          WHERE l_orderkey = o_orderkey) AS last_ship
  FROM orders
), opens AS (
  SELECT o_orderdate AS day, COUNT(*) AS n_opened FROM life GROUP BY 1
), closes AS (
  SELECT last_ship AS day, COUNT(*) AS n_closed FROM life
  WHERE last_ship IS NOT NULL GROUP BY 1
)
SELECT CAST(CAST(COALESCE(o.day, c.day) AS DATE) AS VARCHAR) AS day,
       CAST(COALESCE(n_opened, 0) AS BIGINT) AS n_opened,
       CAST(COALESCE(n_closed, 0) AS BIGINT) AS n_closed,
       CAST(SUM(COALESCE(n_opened, 0) - COALESCE(n_closed, 0))
              OVER (ORDER BY COALESCE(o.day, c.day)
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS backlog
FROM opens o FULL OUTER JOIN closes c ON o.day = c.day
ORDER BY day
""",
)
def q_order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time: an order is open from its order
    date until its last line's ship date; this emits, for every day
    on which the backlog CHANGES, how many orders opened, how many
    fully closed, and the running count still open — the
    work-in-progress inventory curve behind fulfillment capacity
    planning (and the classic temporal 'how many intervals cover
    instant t' aggregation, the orders-lifecycle sibling of
    events_peak_concurrency's sweep-line).

    The scale shape: interval counting NEVER joins intervals to days —
    each order contributes one +1 delta at its open day and one -1 at
    its close day (a map-side-combined aggregation each), and the
    running sum is a window over the aggregated DAY DOMAIN (~2.4k rows
    for 7 years), not the fact rows. The only per-fact work is one
    groupBy(l_orderkey) for the last ship date. Backlog is constant
    between delta days, so emitting delta days only is lossless."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    last = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    # LEFT join: an order with no lineitems opens and never closes
    # (it contributes +1 backlog forever) — dropping it would
    # understate work-in-progress exactly where it's most overdue
    life = o.join(last, "o_orderkey", "left")
    opens = life.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_opened")
    )
    closes = life.filter(
        F.col("last_ship").isNotNull()
    ).groupBy(F.col("last_ship").alias("day")).agg(
        F.count(F.lit(1)).alias("n_closed")
    )
    opened = F.coalesce("n_opened", F.lit(0))
    closed = F.coalesce("n_closed", F.lit(0))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # single-partition window is FINE: it runs over the aggregated
    # day domain (one row per distinct date), never the fact rows
    return (
        opens.join(closes, "day", "full_outer")
        .select(
            F.col("day").cast("date").cast("string").alias("day"),
            opened.cast("bigint").alias("n_opened"),
            closed.cast("bigint").alias("n_closed"),
            F.sum(opened - closed).over(w).cast("bigint").alias("backlog"),
        )
        .orderBy("day")
    )


# Declared FD candidates for the dependency audit: (tag, table, lhs,
# rhs). Chosen to span strengths — schema-ish dependencies a modeler
# WOULD assume (brand determines type, priority determines status) that
# the data may or may not honor.
_FD_CANDIDATES = [
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("part.p_type->p_size", "part", "p_type", "p_size"),
    ("part.p_name->p_brand", "part", "p_name", "p_brand"),
    ("orders.o_orderpriority->o_orderstatus", "orders",
     "o_orderpriority", "o_orderstatus"),
]


def _fd_oracle() -> str:
    selects = []
    for tag, tbl, lhs, rhs in _FD_CANDIDATES:
        selects.append(f"""
SELECT '{tag}' AS fd,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(FLOOR(1000000.0 * (SUM(n) - SUM(mx)) / SUM(n) + 0.5) AS BIGINT)
         AS g3_error_ppm
FROM (
  SELECT {lhs}, SUM(cnt) AS n, COUNT(*) AS nd, MAX(cnt) AS mx
  FROM (SELECT {lhs}, {rhs}, COUNT(*) AS cnt FROM {tbl}
        GROUP BY {lhs}, {rhs})
  GROUP BY {lhs}
)""")
        # NOTE: mx = the largest single-RHS group per key, so
        # SUM(n)-SUM(mx) = the minimum row deletions that make the FD
        # hold exactly (the g3 measure)
    return "\nUNION ALL\n".join(selects)


@query("q_fd_violation_audit", oracle=_fd_oracle())
def q_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency audit: for each declared FD
    candidate X→Y, the g3 error (Kivinen & Mannila 1995) — the minimum
    fraction of rows that must be deleted for the dependency to hold
    exactly, the standard measure data-profiling systems (Tane,
    Metanome) report for "approximate" FDs — plus key/violation
    counts. This is the schema-trust report a warehouse runs before
    assuming a dependency in a rollup or dedup rule: g3 ≈ 0 means the
    FD is real with a few dirty rows; g3 near 1 − 1/|Y| means the
    columns are independent and the assumed dependency is fiction.

    Scale shape, per FD: one map-side-combinable groupBy(X, Y) count,
    one groupBy(X) rollup of (sum, count, max), one global sum — every
    stage is an associative aggregation, output is one row per FD.
    Skewed keys cost nothing: a hot X value is still one combiner cell
    per partition. The FD list is declarative, so auditing another
    dependency is one tuple, not new plan code.
    """
    out = None
    for tag, tbl, lhs, rhs in _FD_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        per_pair = t.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("cnt"))
        per_key = per_pair.groupBy(lhs).agg(
            F.sum("cnt").alias("n"),
            F.count(F.lit(1)).alias("nd"),
            F.max("cnt").alias("mx"),
        )
        row = per_key.agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum((F.col("nd") > 1).cast("long"))
            .cast("bigint")
            .alias("n_violating_keys"),
            F.floor(
                1000000.0
                * (F.sum("n") - F.sum("mx"))
                / F.sum("n")
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("g3_error_ppm"),
        ).select(
            F.lit(tag).alias("fd"),
            "n_rows",
            "n_keys",
            "n_violating_keys",
            "g3_error_ppm",
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "q_basket_pair_mass",
    oracle=f"""
WITH b AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey FROM b GROUP BY l_partkey
  HAVING COUNT(*) >= {FREQ_ITEMSET_MIN_COUNT}
), per_basket AS (
  SELECT l_orderkey,
         COUNT(*) AS n_items,
         SUM(CASE WHEN f.l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS n_freq
  FROM b LEFT JOIN freq f USING (l_partkey)
  GROUP BY l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets,
       CAST(SUM(n_items) AS BIGINT) AS n_postings,
       CAST((SELECT COUNT(*) FROM freq) AS BIGINT) AS n_frequent_items,
       CAST(SUM(n_items * (n_items - 1) // 2) AS BIGINT)
         AS basket_pair_mass,
       CAST(SUM(n_freq * (n_freq - 1) // 2) AS BIGINT)
         AS frequent_pair_mass
FROM per_basket
""",
)
def q_basket_pair_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Itemset-mining candidate-mass meter: per-basket pair volume
    Σ C(|basket|,2) and, after the support-{FREQ_ITEMSET_MIN_COUNT}
    single-item prune, the surviving candidate mass
    Σ C(|basket ∩ frequent|,2) — the exact pair space FP-growth's
    conditional trees (and any a-priori pass) enumerate. Run it BEFORE
    q_frequent_itemsets to see whether the job is tractable: the
    ABSOLUTE support threshold means a K-replicated corpus
    (scripts/make_scale_data.py verbatim mode) multiplies every item's
    support by K without adding baskets per item, so the frequent-item
    set — and with it the conditional-tree work — explodes
    combinatorially while the corpus grows only K-fold. This meter
    states that in advance with a linear plan (the documented cause of
    the sf10 bench budget cancellation — SF10_CANCELLATIONS.md).

    Plan: one distinct projection of the fact table, a broadcast-able
    frequent-item set (HAVING on a map-side-combined count), one
    per-basket aggregate, one global rollup — no pair enumeration.
    """
    li = table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    freq = (
        b.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= FREQ_ITEMSET_MIN_COUNT)
        .select("l_partkey", F.lit(1).alias("is_freq"))
    )
    per_basket = (
        b.join(F.broadcast(freq), "l_partkey", "left")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.coalesce("is_freq", F.lit(0))).alias("n_freq"),
        )
    )
    n_frequent = freq.count()
    return per_basket.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_baskets"),
        F.sum("n_items").cast("bigint").alias("n_postings"),
        F.lit(n_frequent).cast("bigint").alias("n_frequent_items"),
        F.sum(F.expr("n_items * (n_items - 1) div 2")).cast("bigint")
        .alias("basket_pair_mass"),
        F.sum(F.expr("n_freq * (n_freq - 1) div 2")).cast("bigint")
        .alias("frequent_pair_mass"),
    )


@query(
    "q_part_price_tie_mass",
    oracle="""
WITH p AS (
  SELECT p_brand,
         CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
), g AS (
  SELECT p_brand, cents, COUNT(*) AS c FROM p GROUP BY 1, 2
)
SELECT p_brand,
       CAST(SUM(c) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tie_prices,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS tie_pair_mass
FROM g GROUP BY p_brand
""",
)
def q_part_price_tie_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-price tie mass per brand: Σ C(n, 2) over (brand, cents)
    groups — the linear pre-flight meter for the substitution range
    join (q_part_substitution_candidates), same family as
    q_basket_pair_mass / emb_exact_dup_mass / doc_dedup_candidate_mass.

    rel_diff_ppm = 0 ⇔ equal cents under the integer quantization, so
    the tie tier is the substitution join's irreducible output FLOOR:
    a clone-replicated corpus announces its C(K,2) quadratics here in
    one groupBy before any banding runs (the sf10 shape that cancelled
    at 900 s meters as ~45× sf1 mass), while a realistic log-uniform
    catalog meters collision-bounded mass (PART_SUBST_SCALE.json pairs
    this meter with a completing 2M-part run). Two hash aggregations,
    both keyed by (brand, cents) then brand — no join, no explode;
    partial aggregation makes the first map-side at any scale.
    """
    p = table(spark, sf_dir, "part").select(
        "p_brand",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    g = p.groupBy("p_brand", "cents").agg(F.count(F.lit(1)).alias("c"))
    return g.groupBy("p_brand").agg(
        F.sum("c").cast("bigint").alias("n_parts"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie_prices"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("bigint")
        .alias("tie_pair_mass"),
    )
