"""Join/aggregation queries over the TPC-H-ish star schema.

The reference has exactly one join (J1); these queries extend the
engine to the join/agg surface any analytics user needs (multi-way
joins, semi/anti joins, rollup, pivot, global top-k) and lead the
plan audit (PLANS.md).

Scale notes:
- spec-bounded dims (region: 5 rows, nation: 25) carry an explicit
  broadcast hint; SF-scaling dims (customer/supplier/part) are left to
  Catalyst size stats + AQE, which broadcast them while they fit the
  threshold and demote to shuffled joins when they don't -- a forced
  hint would override AQE and OOM the driver at large SF;
- money aggregates use exact integer-cents sums (functions/exact.py);
- global top-k is agg -> row_number over a tiny grouped result, never a
  global sort of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import exact_avg, exact_avg_sql, exact_sum, exact_sum_sql
from ..schemas import load_table
from .registry import QuerySpec, register


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


# --- TPC-H Q1: pricing summary ---------------------------------------------

def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ext = _cents("l_extendedprice")
    # l_discount / l_tax are 2-dp fractions (0.00-0.10): x100 => integers.
    disc = _cents("l_discount")
    tax = _cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            (F.sum(ext * (100 - disc)) / 10000.0).alias("sum_disc_price"),
            (F.sum(ext * (100 - disc) * (100 + tax)) / 1000000.0).alias(
                "sum_charge"
            ),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(QuerySpec(
    name="pricing_summary",
    spark_fn=_q1,
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {exact_sum_sql('l_quantity')} AS sum_qty,
               {exact_sum_sql('l_extendedprice')} AS sum_base_price,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT)))
                   / 10000.0 AS sum_disc_price,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                   * (100 + CAST(ROUND(l_tax*100) AS BIGINT)))
                   / 1000000.0 AS sum_charge,
               {exact_avg_sql('l_quantity')} AS avg_qty,
               {exact_avg_sql('l_extendedprice')} AS avg_price,
               {exact_avg_sql('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-06-30 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    covers=("A1", "F1", "agg-multi"),
    audit=True,
))


# --- Q6: forecast revenue change (pure filter+scan aggregate) ----------------

def _q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic scan-speed query: selective pushed-down filters,
    one aggregate, no joins/shuffles beyond the final 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_cents("l_extendedprice") * _cents("l_discount"))
             / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


register(QuerySpec(
    name="forecast_revenue_change",
    spark_fn=_q6,
    oracle="""
        SELECT SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * CAST(ROUND(l_discount*100) AS BIGINT)) / 10000.0
                   AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    covers=("scan-agg", "pushdown"),
    audit=True,
))


# --- Q3-ish: top-10 orders by revenue for a market segment ------------------

def _top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # customer grows with SF (150M rows at sf100) -> no broadcast hint;
    # Catalyst's size stats broadcast it while it fits the threshold
    # and AQE demotes to a shuffled join when it doesn't. Forcing it
    # would OOM the driver at large SF (operators/joins.py:16 rule).
    rev = (
        li.join(
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            (F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount")))
             / 10000.0).alias("revenue")
        )
    )
    # Global top-k via orderBy+limit -> TakeOrderedAndProject: each
    # partition keeps its local top-10, the driver merges k*partitions
    # rows. A global row_number window would instead sort EVERYTHING in
    # one task -- fine at sf0.1, fatal at 100 TB. The rank is attached
    # afterwards over just the 10 survivors.
    top = rev.orderBy(
        F.col("revenue").desc(), F.col("o_orderkey").asc()
    ).limit(10)
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return top.withColumn("rk", F.row_number().over(w)).select(
        "o_orderkey", "o_orderdate", "revenue", "rk"
    )


register(QuerySpec(
    name="top_orders_by_revenue",
    spark_fn=_top_orders,
    oracle="""
        WITH rev AS (
            SELECT o_orderkey, o_orderdate,
                   SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount*100) AS BIGINT)))
                       / 10000.0 AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
        )
        SELECT o_orderkey, o_orderdate, revenue, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC,
                                         o_orderkey ASC) AS rk
            FROM rev
        ) WHERE rk <= 10
    """,
    covers=("J-multi", "top-k", "sort-limit"),
    audit=True,
))


# --- Q5-ish: revenue by nation (4-way join through broadcast dims) ----------

def _regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    # nation (25 rows) and region (5) are bounded by spec -> explicit
    # broadcast is always safe. The customer-side dim is NOT bounded
    # (150M rows at sf100), so no hint: Catalyst broadcasts it off size
    # stats while small and demotes above the threshold instead of
    # OOMing the driver on a forced build side.
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(dim, F.col("o_custkey") == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount")))
             / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


register(QuerySpec(
    name="regional_revenue",
    spark_fn=_regional_revenue,
    oracle="""
        SELECT r_name, n_name,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT)))
                   / 10000.0 AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    covers=("J-multi", "broadcast-join"),
    audit=True,
))


# --- Q4-ish: semi join (EXISTS) ---------------------------------------------

def _order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.select("l_orderkey").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


register(QuerySpec(
    name="order_priority_semi_join",
    spark_fn=_order_priority,
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
        )
        GROUP BY o_orderpriority
    """,
    covers=("semi-join",),
))


# --- anti join (NOT EXISTS) ---------------------------------------------------

def _customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # anti-join against RECENT orders only -- every customer has some
    # order in the full history, which would make the result empty
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return (
        cust.join(orders.select("o_custkey"),
                  cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


register(QuerySpec(
    name="customers_without_orders",
    spark_fn=_customers_without_orders,
    oracle="""
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer
        WHERE NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
        )
        GROUP BY c_mktsegment
    """,
    covers=("anti-join",),
))


# --- ROLLUP (grouping sets) ---------------------------------------------------

def _rollup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_sum("l_quantity").alias("sum_qty"),
    )


register(QuerySpec(
    name="rollup_returnflag_status",
    spark_fn=_rollup_status,
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               {exact_sum_sql('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    covers=("rollup", "grouping-sets"),
))


# --- pivot ---------------------------------------------------------------------

_STATUSES = ["F", "O", "P"]


def _pivot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill({s: 0 for s in _STATUSES})
    )


register(QuerySpec(
    name="pivot_orders_status",
    spark_fn=_pivot_orders,
    oracle="""
        SELECT o_orderpriority,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS "F",
               SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS "O",
               SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS "P"
        FROM orders
        GROUP BY o_orderpriority
    """,
    covers=("pivot",),
))


# --- Q12-ish: late-shipment counts by priority class (CASE-WHEN agg) ---------

def _shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders.select("o_orderkey", "o_orderpriority", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
    )


register(QuerySpec(
    name="shipping_priority_counts",
    spark_fn=_shipping_priority,
    oracle="""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN
                                  ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate
        GROUP BY l_linestatus
    """,
    covers=("case-when-agg", "cross-table-predicate"),
))


# --- Q9-ish: profit by supplier nation and order year ------------------------

def _profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    # nation is spec-bounded (25 rows) -> hint; supplier/part are not
    # (1M/20M rows at sf100) -> size-stat broadcast, AQE demotion above
    # threshold (joins.py:16 rule).
    sup_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "n_name")
    # profit = ext*(1-disc) - retail*qty, exact in integer cents
    ext = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    retail = F.round(F.col("p_retailprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    profit_c = ext * (100 - disc) - retail * qty * 100
    return (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(part.select("p_partkey", "p_retailprice"),
              li.l_partkey == F.col("p_partkey"))
        .join(sup_nation, li.l_suppkey == F.col("s_suppkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg((F.sum(profit_c) / 10000.0).alias("profit"))
    )


register(QuerySpec(
    name="profit_by_nation_year",
    spark_fn=_profit_by_nation_year,
    oracle="""
        SELECT n_name,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
                   - CAST(ROUND(p_retailprice*100) AS BIGINT)
                     * CAST(ROUND(l_quantity) AS BIGINT) * 100)
                   / 10000.0 AS profit
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name, year(o_orderdate)
    """,
    covers=("multi-join-5way", "derived-measure"),
))


# --- correlated scalar subquery-ish: orders above customer average -----------

def _above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust_avg = orders.groupBy("o_custkey").agg(
        exact_avg("o_totalprice").alias("avg_price")
    )
    return (
        orders.join(cust_avg, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above_avg"))
    )


register(QuerySpec(
    name="orders_above_customer_avg",
    spark_fn=_above_avg_orders,
    oracle=f"""
        WITH cust_avg AS (
            SELECT o_custkey, {exact_avg_sql('o_totalprice')} AS avg_price
            FROM orders GROUP BY o_custkey
        )
        SELECT o_orderstatus, COUNT(*) AS n_above_avg
        FROM orders JOIN cust_avg USING (o_custkey)
        WHERE o_totalprice > avg_price
        GROUP BY o_orderstatus
    """,
    covers=("subquery", "self-join"),
))


# --- Q14 shape: promotion revenue share --------------------------------------
#
# Exactness: both revenue sums are exact cents^2 BIGINTs (the repo's
# fixed-decimal rule); the percentage is ONE IEEE division of the two
# exact integers -- bit-identical across engines, no rounding.

def _q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    disc_price = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", disc_price)
                .otherwise(F.lit(0).cast("long"))
            ).alias("_promo"),
            F.sum(disc_price).alias("_total"),
        )
        .select(
            (
                100.0 * F.col("_promo").cast("double")
                / F.col("_total").cast("double")
            ).alias("promo_revenue_pct")
        )
    )


register(QuerySpec(
    name="promo_revenue_share",
    spark_fn=_q14,
    oracle="""
        SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN
                   CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT))
               ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount*100) AS BIGINT)))
               AS DOUBLE) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1998-07-01'
    """,
    covers=("tpch-q14", "conditional-ratio", "broadcast-dim-join"),
    extended=True,
))


# --- Q17 shape: small-quantity revenue (correlated per-part average) ---------

def _q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand = li.join(
        F.broadcast(part.filter(F.col("p_brand") == "Brand#1")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    # per-part quantity average as exact deci units (qty has <= 1 dp);
    # ROUND before the cast -- bare cast truncates, and 2.3*10 is
    # 22.999... in IEEE doubles (the oracle rounds, so truncation
    # would diverge the engines on any genuinely fractional quantity)
    avg_q = brand.groupBy("p_partkey").agg(
        (
            F.sum(F.round(F.col("l_quantity") * 10).cast("long"))
            / F.count(F.lit(1)) / 10.0
        ).alias("avg_qty")
    )
    small = brand.join(avg_q, "p_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return small.agg(
        (
            F.coalesce(
                F.sum(_cents("l_extendedprice")), F.lit(0).cast("long")
            ).cast("double")
            / 100.0 / 7.0
        ).alias("avg_yearly")
    )


register(QuerySpec(
    name="small_quantity_revenue",
    spark_fn=_q17,
    oracle="""
        WITH brand AS (
            SELECT l_partkey AS p_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
        ), avg_q AS (
            SELECT p_partkey,
                   SUM(CAST(ROUND(l_quantity * 10) AS BIGINT))
                       / COUNT(*) / 10.0 AS avg_qty
            FROM brand GROUP BY p_partkey
        )
        SELECT CAST(COALESCE(SUM(CAST(ROUND(l_extendedprice * 100)
                                      AS BIGINT)), 0) AS DOUBLE)
               / 100.0 / 7.0 AS avg_yearly
        FROM brand JOIN avg_q USING (p_partkey)
        WHERE l_quantity < 0.2 * avg_qty
    """,
    covers=("tpch-q17", "correlated-per-group-average"),
    extended=True,
))


# --- Q18 shape: large-volume orders ------------------------------------------

_Q18_MIN_QTY = 150


def _q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > _Q18_MIN_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


register(QuerySpec(
    name="large_volume_orders",
    spark_fn=_q18,
    oracle=f"""
        SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM (
            SELECT l_orderkey, {exact_sum_sql('l_quantity')} AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING {exact_sum_sql('l_quantity')} > {_Q18_MIN_QTY}
        ) b
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    covers=("tpch-q18", "having-filtered-agg-join", "topn"),
    extended=True,
))
