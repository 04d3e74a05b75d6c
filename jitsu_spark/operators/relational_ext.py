"""Extended relational shapes — correlated subqueries, anti/semi self-joins,
outer-join aggregates, scalar-subquery thresholds.

Completes the report-query capability family of `relational.py` with the
remaining classic decision-support shapes (the reference's SQL gateway,
`webapps/console/pages/api/[workspaceId]/sql/query.ts`, passes arbitrary
SELECTs through to the warehouse — these shapes are what its users run).
The testdata has no `partsupp` table and no commit/receipt dates, so the
part-supplier relation is derived as `DISTINCT (l_partkey, l_suppkey)` and
"late" is `l_shipdate > o_orderdate + INTERVAL`, mirroring the adaptation
`relational.q4_priority_count` already makes.

Scale notes (100 TB stance):
- Correlated scalar subqueries (per-key MIN/AVG) are windows over the same
  pass (`partitionBy(key)`), NOT aggregate-and-join-back — the join-back
  form evaluates the whole probe subtree twice (verified: the window form
  halves the q2 plan to a single lineitem scan).
- Global scalar thresholds (q11/q15/q22) are 1-row aggregates crossJoined
  in — Spark plans a broadcast nested loop of a single row, no shuffle.
- The q21 shape needs lineitem joined to itself twice; both self-join
  probes are pre-projected to (orderkey, suppkey[, late]) so the shuffle
  carries two narrow columns, never the lineitem payload.
- The part-supplier dedup (q2) partial-aggregates AFTER the selective
  part/supplier filters push below it as broadcast semi joins — the
  filters are on the dedup keys, so filter-then-distinct is exact and
  the distinct shuffle carries only surviving pairs; q16 folds the
  dedup into count(DISTINCT suppkey) entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load_table


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped: correlated scalar-MIN subquery with join-back.

    For each LARGE size-10..20 part, the EUROPE supplier(s) with the minimum
    account balance among its suppliers. The correlated MIN is a window
    over the offers pass itself (partitionBy part) — ONE scan of the pair
    table and one shuffle, instead of the aggregate-and-join-back form
    that would evaluate the whole offers subtree twice.
    """
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")

    europe_sup = (
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        )
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # r12: both dim filters are on the pair-dedup KEYS, so
    # filter-then-distinct == distinct-then-filter — push them below the
    # dedup as broadcast semi joins and the distinct shuffle carries only
    # surviving pairs instead of every pair ever shipped (guide §2.3
    # shuffle fewer bytes, §3.3 pre-filter the big side).
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(
            part.select("p_partkey"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            europe_sup.select("s_suppkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    offers = (
        pairs.join(part, pairs.l_partkey == part.p_partkey)
        .join(europe_sup, pairs.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_bal", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


Q2_SQL = """
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) ps
JOIN part     ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE'
  AND s_acctbal = (
    SELECT min(s2.s_acctbal)
    FROM (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem) ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.sk
    JOIN nation  n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region  r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.pk = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit on 'red' parts by supplier nation and year.

    Without ps_supplycost, cost = half the part's retail price per unit.
    part is filtered at the scan (LIKE pushes as a residual after pruning),
    and part/supplier/nation all broadcast; lineitem shuffles only for the
    orders join and the final (nation, year) aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.5) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - 0.5 * p_retailprice * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: per-part value with a global-fraction HAVING.

    Value = shipped revenue of NATION_3-supplied lines per part; keep parts
    whose value exceeds 0.1% of the nation's total. The total is a 1-row
    aggregate crossJoined in (broadcast nested loop of one row) — the
    threshold never re-scans.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    lines = li.join(
        supplier.join(
            nation,
            supplier.s_nationkey == nation.n_nationkey,
        ).select("s_suppkey"),
        li.l_suppkey == F.col("s_suppkey"),
    ).select("l_partkey", "l_extendedprice")
    per_part = lines.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("value")
    )
    total = per_part.agg(F.sum("value").alias("total_value"))
    return (
        per_part.crossJoin(total)
        .where(F.col("value") > F.lit(0.001) * F.col("total_value"))
        .select("l_partkey", F.round("value", 2).alias("value"))
        .orderBy(F.desc("value"), F.asc("l_partkey"))
    )


Q11_SQL = """
SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY l_partkey
HAVING sum(l_extendedprice) > (
  SELECT 0.001 * sum(l_extendedprice)
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
)
ORDER BY value DESC, l_partkey ASC
"""


def q12_late_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: CASE-WHEN priority-class counts of late lines.

    Late = shipped >45 days after order date, in 1997. Grouped by return
    flag (the testdata has no shipmode). One orderkey shuffle, conditional
    counts fold map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: customer order-count distribution via LEFT OUTER.

    The left join preserves zero-order customers (count() over a null key
    is 0), then a second aggregate folds counts into a distribution. Both
    shuffles are on low-cardinality keys after map-side partials.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        customer.join(
            orders.select("o_custkey", "o_orderkey"),
            customer.c_custkey == orders.o_custkey,
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: top revenue supplier via a scalar-MAX subquery.

    The per-supplier revenue view is computed once (cached plan reuse is
    irrelevant at one row out); MAX over it is a 1-row broadcast compared
    back. Revenue is rounded before the equality in BOTH engines so the
    tie predicate is bit-identical.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(top)
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("supplier_no") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: supplier counts per part attribute with a NOT-IN
    exclusion subquery (suppliers in arrears stand in for the reference's
    complaint suppliers). The exclusion list is tiny -> left_anti broadcast;
    count(DISTINCT) shuffles only (brand, type, size, suppkey) pairs.
    """
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad_sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    # r12: the explicit pair-dedup shuffle is redundant under
    # count(DISTINCT suppkey) — the distinct aggregate collapses repeated
    # (part, supplier) lines itself, so score directly off the filtered
    # scan: the part filter and the arrears anti-join push to the scan
    # side and the only shuffle carries distinct (brand, type, size,
    # suppkey) (guide §2.3, §2.4 — one exchange instead of two).
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(
            bad_sup,
            F.col("l_suppkey") == bad_sup.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem) ps
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#21'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated per-part AVG subquery.

    Average yearly revenue lost if small-quantity orders (below half the
    part's average quantity) of Brand#11 SMALL parts weren't filled. The
    correlated per-part AVG is a window over the branded-lines pass —
    one scan, one shuffle, no aggregate-and-join-back double evaluation.
    """
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#11") & (F.col("p_type") == "SMALL")
    )
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    return (
        branded.withColumn(
            "half_avg_qty", F.lit(0.5) * F.avg("l_quantity").over(w)
        )
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#11' AND p_type = 'SMALL'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: nested IN chains as stacked semi joins.

    NATION_5 suppliers who shipped more than 40 units of some 'red' part
    in 1997. The inner (suppkey, partkey) quantity aggregate shuffles
    narrow pairs; its HAVING survivors are a tiny set semi-joined against
    the nation-filtered supplier dim.
    """
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    red_parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(red_parts, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        supplier.join(
            nation, supplier.s_nationkey == nation.n_nationkey
        )
        .join(heavy, supplier.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 40
  )
ORDER BY s_name
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: EXISTS + NOT EXISTS self-joins on the fact table.

    NATION_2 suppliers who were the ONLY late supplier (>60 days after
    order date) on a finished multi-supplier order.

    r12 restructure (guide §2.4 — remove shuffles outright): the previous
    form evaluated the lineitem⋈orders join THREE times (the l1 probe and
    both self-join sides) plus two self-join shuffles. Both EXISTS
    predicates are per-order facts — "some other supplier on the order"
    and "no OTHER late supplier" — so they fold into window counts over
    ONE (orderkey, suppkey) aggregate of the single join pass:
    qualifying rows are late suppliers on multi-supplier orders where
    exactly one supplier is late, and numwait is that supplier's late
    LINE count (what count(*) over surviving l1 rows measured). The
    join's hash(orderkey) partitioning satisfies the aggregate and both
    windows, so the whole tail runs without another exchange.
    """
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")

    per = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
                ).cast("long")
            ).alias("n_late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per.withColumn("n_supp", F.count(F.lit(1)).over(w)).withColumn(
        "n_late_supp", F.sum((F.col("n_late") > 0).cast("int")).over(w)
    )
    winners = flagged.where(
        (F.col("n_late") > 0)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    nation2_sup = supplier.join(
        nation, supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", "s_name")
    return (
        winners.join(
            nation2_sup,
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.sum("n_late").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND n_name = 'NATION_2'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: scalar-AVG threshold + anti join.

    Customers in selected nations with above-average positive balances and
    no urgent orders (every customer here has SOME order, so the anti-join
    probes the priority-filtered key set instead — same shape). The AVG is
    a 1-row broadcast; the NOT EXISTS is a left_anti against the projected
    orders keys (narrow shuffle).
    """
    nations = [1, 3, 5, 7, 9, 11, 13]
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(nations)
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q22_SQL = """
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c_acctbal > (
    SELECT avg(c_acctbal) FROM customer
    WHERE c_acctbal > 0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q12_late_priority_lines": q12_late_priority_lines,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_count_by_part": q16_supplier_count_by_part,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
    "q22_idle_customers": q22_idle_customers,
}

ORACLE = {
    "q2_min_cost_supplier": Q2_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_late_priority_lines": Q12_SQL,
    "q13_order_count_distribution": Q13_SQL,
    "q15_top_supplier": Q15_SQL,
    "q16_supplier_count_by_part": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q20_excess_suppliers": Q20_SQL,
    "q21_waiting_suppliers": Q21_SQL,
    "q22_idle_customers": Q22_SQL,
}
