"""Core relational queries — the report/aggregation capability family.

The reference's reporting layer is plain SQL over ClickHouse
(`webapps/console/pages/api/[workspaceId]/reports/event-stat.ts:40-56`,
`.../sql/query.ts`); we express the same shapes over the TPC-H-ish tables so
joins/aggregations/top-k are exercised at benchable scale.

Scale notes (100 TB stance):
- Aggregations are declared with groupBy/agg -> Catalyst plans partial
  (map-side) aggregation before the shuffle; the shuffle carries only
  (key, partial-state), not rows.
- Joins put the big fact table (lineitem/orders) on the streamed side and
  broadcast dimensions explicitly (`F.broadcast`) so no shuffle of the fact
  table happens for dim joins. AQE converts remaining sort-merge joins to
  broadcast at runtime when the build side turns out small.
- Filters are plain column predicates on scan columns -> pushed to parquet
  (visible as PushedFilters in .explain("formatted")).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan-heavy partial aggregation.

    One wide scan + one tiny shuffle (4 groups); the canonical 'does
    map-side combine work' benchmark.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2)                                AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4)                                AS avg_qty,
       round(avg(l_extendedprice), 4)                           AS avg_price,
       round(avg(l_discount), 6)                                AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: filter + 3-way join + agg + top-k.

    customer is a dimension here -> broadcast; lineitem never shuffles for
    the customer join, only for the final groupBy(l_orderkey), which AQE
    coalesces. Top-k is orderBy+limit -> Spark plans TakeOrderedAndProject
    (no global sort materialization).
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join with a correlated nation condition.

    All of region/nation/supplier/customer broadcast; the only shuffles are
    orders<->lineitem (both sides hashed on orderkey) and the final tiny agg.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: EXISTS as a left-semi join (the testdata lacks
    commit/receipt dates, so the exists-predicate is late-shipped lines).

    The semi join shuffles only (orderkey); no lineitem payload moves.
    """
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan + filter + scalar agg — the predicate-pushdown
    benchmark (all three filters reach the parquet reader)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue per customer, top 20.

    lineitem filtered on returnflag at the scan; customer/nation broadcast;
    one shuffle on orderkey, one tiny agg shuffle on custkey.
    """
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: conditional aggregation over a broadcast join
    (promo revenue share in one month)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(
         100 * sum(CASE WHEN p_type = 'PROMO'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: large-volume orders via a HAVING subaggregate.

    The quantity pre-aggregate shuffles (orderkey, partial-sum) only; the
    surviving keys are few -> the join back to orders/customer is a
    broadcast of the filtered aggregate, not of the fact table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate"),
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(big.total_qty, 2) AS total_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: shipping volume between two nations by year.

    Both nation lookups broadcast (supplier-side and customer-side); the
    symmetric nation-pair predicate stays a residual on broadcast joins, so
    the fact tables shuffle only for orders<->lineitem.
    """
    n1, n2 = "NATION_1", "NATION_2"
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(sn, F.col("s_nationkey") == F.col("s_nk"))
        .join(cn, F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue
FROM (
  SELECT sn.n_name AS supp_nation,
         cn.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
     OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of PROMO-part revenue per year —
    conditional aggregation over a 6-way join, all dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_1", vol).otherwise(0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n_name = 'NATION_1'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1
ORDER BY o_year
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: disjunction of conjunctive brand/size/quantity
    clauses — the OR-of-ANDs predicate-handling benchmark (each clause
    narrows part and lineitem independently; the common subexpression
    `p_size >= 1` and the join key still push down)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    clause1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    clause3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.where(clause1 | clause2 | clause3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("matched_lines"),
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS matched_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q4_priority_count": q4_priority_count,
    "q5_region_revenue": q5_region_revenue,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_nation_volume": q7_nation_volume,
    "q8_market_share": q8_market_share,
    "q10_returned_items": q10_returned_items,
    "q14_promo_share": q14_promo_share,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
}

ORACLE = {
    "q1_pricing_summary": Q1_SQL,
    "q3_top_revenue_orders": Q3_SQL,
    "q4_priority_count": Q4_SQL,
    "q5_region_revenue": Q5_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q7_nation_volume": Q7_SQL,
    "q8_market_share": Q8_SQL,
    "q10_returned_items": Q10_SQL,
    "q14_promo_share": Q14_SQL,
    "q18_large_orders": Q18_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
}
