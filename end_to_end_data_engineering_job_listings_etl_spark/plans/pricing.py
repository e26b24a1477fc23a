"""Large-table (lineitem) analytics: the shuffle-heavy workloads that
dominate at 100 TB — wide-table scan+agg, fact-to-fact join with
top-k, and partitioned running totals.

The reference has no lineitem-scale workload (its fact is ~1.5k rows);
these queries extend the BI surface to the engine's real design point.
All money math is decimal-cast before aggregation so Spark's
partition-order-dependent double summation cannot drift from the
oracle (README correctness model).

Scale shapes:
- li_pricing_summary: single scan, partial-agg groupBy on 2 low-card
  keys, filter pushed to parquet.
- li_revenue_topk: lineitem ⋈ orders on orderkey — broadcast at small
  SF, AQE flips to sort-merge when orders outgrows the threshold; the
  agg happens on the join key (no extra shuffle), then
  TakeOrderedAndProject.
- li_running_total: one shuffle on orderkey, in-partition ordered
  window (no global sort)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

_CUTOFF_NEXT = "1998-09-03"


def li_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary.

    Decimal discipline: inputs are cast to decimal BEFORE any
    arithmetic — engines disagree on rounding *computed doubles* into
    decimals (exact-binary-expansion vs shortest-repr), but they agree
    on raw column casts; from there every multiply/add is exact
    decimal math with pinned output scales."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    # Scaled-BIGINT outputs: decimal aggregates are exact in-engine but
    # the driver hashes the DuckDB side as float64, so money lands as
    # *_e2/_e4/_e6 integers (exact: the per-row scale is pinned above).
    # raw-column comparison, not to_date(l_shipdate) <= cutoff: the
    # expression-wrapped form cannot reach PushedFilters; date <= d is
    # exactly ts < d+1day on the underlying timestamp.
    return (
        li.filter(F.col("l_shipdate") < F.lit(_CUTOFF_NEXT).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum((price * 100).cast("bigint")).alias("sum_base_price_e2"),
            F.sum((disc_price * 10000).cast("bigint")).alias("sum_disc_price_e4"),
            F.sum((charge * 1000000).cast("bigint")).alias("sum_charge_e6"),
            F.count("*").alias("count_order"),
        )
    )


def li_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 1995 orders by discounted lineitem revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    joined = li.join(
        orders.filter(F.year("o_orderdate") == 1995).select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey")
        .agg(
            F.sum((rev * 10000).cast("bigint")).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
    )


def li_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative price per order by line number (partitioned window).

    RANGE frame, not ROWS: (l_orderkey, l_linenumber) is not unique in
    the synthetic data, and a ROWS frame makes tied rows' running
    values depend on physical order — RANGE gives every peer the
    sum-through-its-linenumber, deterministic on any engine."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum((F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint"))
        .over(w)
        .alias("running_price_e2"),
    )


def li_supplier_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation (TPC-H Q5-shaped slice): the big fact
    joins two small dims in a chain — supplier broadcasts onto
    lineitem, nation broadcasts onto the result; the only shuffle is
    the final low-cardinality group-by."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum((rev * 10000).cast("bigint")).alias("revenue_e4"),
            F.count("*").alias("n_lineitems"),
        )
    )


_Q3_CUT = "1997-01-01"


def li_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: segment-filtered customers
    broadcast onto orders, that (already filtered, small) order set
    broadcast-able onto lineitem, revenue per still-open order, top 10.

    Scale shape: both joins key on the fact's existing columns, so the
    only guaranteed shuffle is the final groupBy on l_orderkey — and
    AQE keeps the dim sides broadcast while they fit."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(_Q3_CUT).cast("timestamp_ntz"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(_Q3_CUT).cast("timestamp_ntz")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum((rev * 10000).cast("bigint")).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
    )


def li_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: orders with ≥1 lineitem
    shipped more than 60 days after the order date (EXISTS → left_semi
    with an equi key + non-equi residual), counted by priority.

    The semi join shuffles both sides on orderkey once; the residual
    predicate evaluates inside the join, so no fact-×-fact blowup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


QUERIES = {
    "li_pricing_summary": li_pricing_summary,
    "li_shipping_priority": li_shipping_priority,
    "li_late_shipment_priority": li_late_shipment_priority,
    "li_revenue_topk": li_revenue_topk,
    "li_running_total": li_running_total,
    "li_supplier_nation_revenue": li_supplier_nation_revenue,
}

ORACLES = {
    "li_shipping_priority": f"""
        SELECT l_orderkey, o_orderdate,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '{_Q3_CUT} 00:00:00'
          AND l_shipdate > TIMESTAMP '{_Q3_CUT} 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue_e4 DESC, l_orderkey
        LIMIT 10
    """,
    "li_late_shipment_priority": """
        SELECT o_orderpriority, count(*) AS n_late_orders
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "li_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS sum_base_price_e2,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))
                        * 1000000 AS BIGINT)) AS BIGINT) AS sum_charge_e6,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '{_CUTOFF_NEXT} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "li_revenue_topk": """
        SELECT l_orderkey,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
               count(*) AS n_items
        FROM lineitem
        JOIN (SELECT o_orderkey FROM orders WHERE year(o_orderdate) = 1995) o
          ON l_orderkey = o.o_orderkey
        GROUP BY l_orderkey
        ORDER BY revenue_e4 DESC, l_orderkey
        LIMIT 10
    """,
    "li_running_total": """
        SELECT l_orderkey, l_linenumber,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                 OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                       RANGE UNBOUNDED PRECEDING) AS BIGINT) AS running_price_e2
        FROM lineitem
    """,
    "li_supplier_nation_revenue": """
        SELECT n_name,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                        * 10000 AS BIGINT)) AS BIGINT) AS revenue_e4,
               count(*) AS n_lineitems
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
}
