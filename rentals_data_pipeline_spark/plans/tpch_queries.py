"""Canonical TPC-H query adaptations (Q2-Q22 where adaptable) over the
star schema — the industry-standard multi-join analytics shapes,
expressed in the DataFrame API and certified against the classic SQL
text on DuckDB. Q1 already lives in the catalog as
``agg_pricing_summary``. As of round 8, Q2/Q11/Q16/Q20 run over a
DETERMINISTICALLY DERIVED partsupp relation (dbgen-style 4 suppliers
per part; costs as exact integer cents — see ``_partsupp`` below) and
Q12 over derived shipmode/commit/receipt columns, all built from the
same closed-form expressions in both engines so the oracle certifies
the derivation too — the sweep is complete: all 22 queries run (Q1 as
``agg_pricing_summary``, Q2-Q22 here; Q12's original date columns and
the partsupp table remain absent from the corpus, so those five are
documented derivation-backed adaptations, not dbgen replicas).

Adaptations to this corpus's schema: no ``o_shippriority`` /
``c_address`` / ``c_phone`` / ``c_comment`` columns exist, so those
output columns are dropped; date windows sit inside the generated
1995–2001 range.

Determinism: revenue terms multiply NARROW decimal casts
(``DECIMAL(15,2) * (1.00 - DECIMAL(3,2))`` -> scale-4 products whose
widths stay legal on both engines), so every SUM is exact and
order-invariant; top-k ORDER BY runs on the EXACT decimal (ties broken
by key) and only the projected output rounds to a double — a rank
boundary can never flip between engines. At 100 TB: dimensions
broadcast (customer/nation/region/supplier), the only fact-sized
shuffle is lineitem-orders on the order key, and every date/segment
filter sits in the parquet scan (PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rentals_data_pipeline_spark.functions.rounding import round_half_up as RND
from rentals_data_pipeline_spark.plans.catalog import query
from rentals_data_pipeline_spark.sources.tables import load_table

# Exact per-row revenue term: l_extendedprice * (1 - l_discount) in
# decimal. Prices are 2-dp values stored as doubles; the narrow casts
# recover the exact decimal on both engines.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(15,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
)


def _rev_col() -> F.Column:
    return F.col("l_extendedprice").cast("decimal(15,2)") * (
        F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    )


_Q3_SQL = f"""
WITH r AS (
    SELECT l_orderkey, o_orderdate, SUM({_REV_SQL}) AS rev
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY 1, 2
),
top AS (
    SELECT * FROM r ORDER BY rev DESC, l_orderkey LIMIT 10
)
SELECT l_orderkey, o_orderdate,
    FLOOR(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
FROM top
"""


@query("tpch_q3_unshipped_revenue", _Q3_SQL)
def tpch_q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority, minus the absent o_shippriority):
    the 10 highest-revenue BUILDING-segment orders taken before
    1996-03-15 with lines still unshipped at that date. Plan: customer
    broadcasts into the orders scan, the filtered fact shuffles once on
    the order key, revenue aggregates map-side, and the top-10 is a
    TakeOrdered over the EXACT decimal revenue (orderkey tie-break) —
    ranking never touches a rounded double, so the cut line is
    bit-stable at any scale."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    cutoff = F.lit("1996-03-15 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_col()).alias("rev"))
    )
    return (
        r.orderBy(F.col("rev").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            RND(F.col("rev").cast("double"), 2).alias("revenue"),
        )
    )


_Q5_SQL = f"""
SELECT n_name, FLOOR(CAST(SUM({_REV_SQL}) AS DOUBLE) * 100.0 + 0.5) / 100.0
    AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier_volume", _Q5_SQL)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): 1996 revenue per ASIA nation
    where the supplier and customer share the nation. Five dimension
    joins — supplier, customer, nation, region all broadcast (the
    region filter prunes nation before it ever reaches an executor
    join), so the only fact-sized exchange is lineitem-orders on the
    order key; the co-nationality predicate rides the supplier
    broadcast join. Exact decimal revenue, rounded once on output."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(RND(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
    )


_Q10_SQL = f"""
WITH r AS (
    SELECT c_custkey, c_name, c_acctbal, n_name, SUM({_REV_SQL}) AS rev
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3, 4
),
top AS (
    SELECT * FROM r ORDER BY rev DESC, c_custkey LIMIT 20
)
SELECT c_custkey, c_name, c_acctbal, n_name,
    FLOOR(CAST(rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
FROM top
"""


@query("tpch_q10_returned_items", _Q10_SQL)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting, minus the absent
    address/phone/comment columns): the 20 customers who returned the
    most revenue in 1996-Q4. Customer and nation broadcast; the
    returnflag and date filters push into the two fact scans; top-20 is
    a TakeOrdered on the exact decimal (custkey tie-break), rounded
    only on output."""
    cutoff_lo = F.lit("1996-10-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    r = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_col()).alias("rev"))
    )
    return (
        r.orderBy(F.col("rev").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            RND(F.col("rev").cast("double"), 2).alias("revenue"),
        )
    )


_Q18_SQL = """
WITH heavy AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
    SUM(l.l_quantity) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM heavy)
GROUP BY 1, 2, 3, 4, 5
"""


@query("tpch_q18_large_volume_customer", _Q18_SQL)
def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): orders whose total quantity
    exceeds 300, with their customer and exact quantity sum. The heavy
    -order set is a self-aggregation of the fact (map-side combined)
    that semi-joins back — Catalyst turns the IN into a LeftSemi whose
    tiny build side broadcasts, so the fact is filtered BEFORE the
    customer join; quantities are integral doubles, so SUM is exact
    and the HAVING boundary cannot drift. Output left unordered (the
    gate hashes order-insensitively); the classic top-100 form would
    be one TakeOrdered more."""
    li = load_table(spark, sf_dir, "lineitem")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 300)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(F.broadcast(heavy), "l_orderkey", "left_semi")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(F.sum("l_quantity").alias("total_qty"))
    )


_Q6_SQL = """
SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                     * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", _Q6_SQL)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): discount revenue that
    would be recovered by eliminating small-quantity 1996 discounts.
    Single scan, zero joins — all three range predicates push into the
    parquet scan (PushedFilters) and the sum is one map-side partial
    agg + a 1-row exchange. Exact decimal product per row."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(15,2)") * F.col(
        "l_discount"
    ).cast("decimal(3,2)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(RND(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_priority_checking", _Q4_SQL)
def tpch_q4_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking), lateness adapted to the
    columns this corpus has: an order is late when some line ships
    more than 60 days after the order date (the reference corpus lacks
    l_commitdate/l_receiptdate). The correlated EXISTS becomes a left-
    semi join keyed on the order key with the cross-table date
    predicate riding the same join — one fact shuffle, no duplicate
    inflation, then a tiny 5-group count."""
    cutoff_lo = F.lit("1996-07-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q13_SQL = """
WITH c_orders AS (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM c_orders
GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", _Q13_SQL)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer distribution): histogram of per-customer
    order counts, excluding urgent orders (the corpus has no o_comment,
    so the NOT LIKE special-request filter becomes a priority filter —
    same shape: a predicate INSIDE the outer-join condition, which must
    not drop customers). Left join keyed on custkey preserves order-
    less customers as count 0; the second aggregation is a ~50-group
    recount of the first — both shuffles are on already-reduced data."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q14_SQL = f"""
SELECT FLOOR(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL} END)
                          AS DOUBLE)
                   / CAST(SUM({_REV_SQL}) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
"""


@query("tpch_q14_promo_effect", _Q14_SQL)
def tpch_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the percent of one month's revenue
    that came from PROMO-type parts. Part broadcasts into the date-
    filtered fact scan; both sums accumulate exact decimals in ONE
    aggregation pass (conditional + total), so the ratio divides two
    bit-identical doubles on any engine and rounds once at 6 dp."""
    cutoff_lo = F.lit("1996-09-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1996-10-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= cutoff_lo) & (F.col("l_shipdate") < cutoff_hi)
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _rev_col())).cast("double")
    total = F.sum(_rev_col()).cast("double")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(RND(F.lit(100.0) * promo / total, 6).alias("promo_revenue"))
    )


_Q15_SQL = f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no, SUM({_REV_SQL}) AS total_rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       FLOOR(CAST(total_rev AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
"""


@query("tpch_q15_top_supplier", _Q15_SQL)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): supplier(s) with the maximum revenue
    in 1996-Q1 — the scalar-subquery-on-aggregate shape. The revenue
    CTE aggregates the date-filtered fact once (map-side combined);
    its 1-row MAX re-aggregation broadcasts back as the filter, so the
    whole query is one fact shuffle plus two broadcast joins. Equality
    on the EXACT decimal revenue — a tie admits both suppliers on both
    engines, no float-equality flake."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= cutoff_lo) & (F.col("l_shipdate") < cutoff_hi)
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_col()).alias("total_rev")
    )
    top = rev.agg(F.max("total_rev").alias("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), rev.total_rev == top.max_rev)
        .join(F.broadcast(supp), rev.supplier_no == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            RND(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


_Q17_SQL = """
SELECT FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / 7.0
             * 100.0 + 0.5) / 100.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
      SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = p_partkey
  )
"""


@query("tpch_q17_small_quantity", _Q17_SQL)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost to
    below-20%-of-average-quantity orders for one brand. The correlated
    scalar AVG becomes ``0.2 * avg(l_quantity) OVER (PARTITION BY
    l_partkey)`` over the ONE brand-filtered line set (the subquery
    only constrains l_partkey, so pre-filtering by the broadcast part
    dimension is semantics-preserving): lineitem is scanned once and
    the per-part cut needs no aggregate joined back, so the plan has
    one partkey exchange and no sort-merge join. Quantities are
    integral doubles — the avg is exact at any summation order, so the
    0.2·avg cut is engine-stable."""
    pb = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    return (
        li.join(F.broadcast(pb), li.l_partkey == pb.p_partkey)
        .withColumn(
            "qty_cut",
            F.lit(0.2)
            * F.avg("l_quantity").over(Window.partitionBy("l_partkey")),
        )
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            RND(
                F.sum(F.col("l_extendedprice").cast("decimal(15,2)")).cast(
                    "double"
                )
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


_Q19_SQL = f"""
SELECT FLOOR(CAST(SUM({_REV_SQL}) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("tpch_q19_discounted_revenue", _Q19_SQL)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the OR-of-ANDs disjunctive
    predicate spanning both join sides (no p_container/l_shipmode in
    this corpus, so the triples are brand x size x quantity). Catalyst
    keeps the equi-key join (the disjunction is a post-join filter,
    not a theta condition) and pushes the derivable per-side residuals
    — the brand IN-list reaches the part scan, the quantity range the
    fact scan — so the broadcast hash join sees pre-pruned inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 50)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(RND(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
  AND n_name = 'NATION_2'
GROUP BY s_name
"""


@query("tpch_q21_suppliers_kept_waiting", _Q21_SQL)
def tpch_q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): for finished
    multi-supplier orders, count the late lines of the ORDER'S SOLE
    late supplier (lateness adapted to ship-more-than-60-days-after-
    order). The oracle keeps the classic EXISTS / NOT EXISTS text; the
    Spark plan replaces both correlated fact self-joins with ONE
    per-order aggregate — distinct suppliers, distinct late suppliers,
    the argmax late supplier, and the late-line count — because
    "some other supplier exists AND no other supplier is late" is
    exactly n_supp > 1 AND n_late_supp = 1 for the late supplier's
    rows. One order-key shuffle instead of three at 100 TB."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).cast("int"),
    )
    late_supp = F.when(F.col("late") == 1, F.col("l_suppkey"))
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(late_supp).alias("n_late_supp"),
        F.max(late_supp).alias("late_supp"),
        F.sum("late").alias("n_late_lines"),
    )
    waits = (
        per_order.where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("late_supp")
        .agg(F.sum("n_late_lines").alias("numwait"))
    )
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_2"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "s_name")
    )
    return waits.join(
        F.broadcast(supp), waits.late_supp == supp.s_suppkey
    ).select("s_name", "numwait")


_Q22_SQL = """
WITH cutoff AS (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS avg_bal
    FROM customer
    WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
)
SELECT c_nationkey, COUNT(*) AS numcust,
       FLOOR(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             * 100.0 + 0.5) / 100.0 AS totacctbal
FROM customer, cutoff
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND CAST(c_acctbal AS DOUBLE) > avg_bal
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_nationkey
"""


@query("tpch_q22_global_sales_opportunity", _Q22_SQL)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): well-funded customers in
    target countries who never ordered (the corpus has no c_phone, so
    the country-code prefix becomes a nation-key IN-list). Three
    classic shapes in one query: an uncorrelated scalar-average
    subquery (computed as exact-decimal sum / count so the threshold
    double is bit-identical on both engines, then broadcast as a 1-row
    cross join), a NOT EXISTS anti join against the orders fact keyed
    on custkey, and the final small group-by. Adaptation: every
    customer in this corpus has SOME order, so "never ordered" becomes
    "no order since 2000-01-01" — the date filter prunes the anti-join
    build side before the shuffle, which is also the 100 TB shape."""
    nations = [1, 3, 5, 7, 9, 11, 13]
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(nations)
    )
    cutoff = cust.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(cutoff))
        .where(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            RND(
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double"),
                2,
            ).alias("totacctbal"),
        )
    )


_Q8_SQL = f"""
WITH all_nations AS (
    SELECT year(o_orderdate) AS o_year, {_REV_SQL} AS volume,
           n2.n_name AS supp_nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       FLOOR(CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_2'
                                    THEN volume END), 0) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
FROM all_nations
GROUP BY o_year
"""


@query("tpch_q8_market_share", _Q8_SQL)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_2's share of PROMO-part
    revenue sold into ASIA-region customers, per order year. Seven
    joins, but only ONE is fact-sized (lineitem-orders on the order
    key): part, supplier, customer, both nation roles, and region all
    broadcast, and the region/type filters prune those builds before
    shipping. Share = conditional exact-decimal sum over total, both
    accumulated in one pass, divided as doubles and rounded at 6 dp."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(
            F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey
        )
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev_col().alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("volume")))
    return base.groupBy("o_year").agg(
        RND(
            F.coalesce(nat, F.lit(0)).cast("double")
            / F.sum("volume").cast("double")
            * F.lit(1.0),
            6,
        ).alias("mkt_share")
    )


_Q7_SQL = f"""
WITH shipping AS (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year, {_REV_SQL} AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT supp_nation, cust_nation, l_year,
       FLOOR(CAST(SUM(volume) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS revenue
FROM shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_volume_shipping", _Q7_SQL)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): trade volume between two nations in
    each direction, by ship year. Both nation roles broadcast with the
    two-nation filter ALREADY applied inside the builds — so the
    supplier and customer joins prune the fact to the two trading
    nations before the revenue aggregation; the only fact-sized
    exchange is lineitem-orders on the order key. Exact decimal
    volume, rounded once on output."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = ["NATION_3", "NATION_8"]
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(pair))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(RND(F.sum(_rev_col()).cast("double"), 2).alias("revenue"))
    )


_Q9_SQL = """
WITH profits AS (
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(l_extendedprice AS DECIMAL(15,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           - CAST(p_retailprice AS DECIMAL(15,2))
               * CAST(l_quantity AS DECIMAL(15,2)) AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
)
SELECT nation, o_year,
       FLOOR(CAST(SUM(amount) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_profit
FROM profits
GROUP BY nation, o_year
"""


@query("tpch_q9_product_type_profit", _Q9_SQL)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: this corpus ships no
    partsupp table, so unit cost is the part's retail price instead of
    ps_supplycost — profit = discounted revenue − retailprice·quantity
    (usually negative; the per-(nation, year) aggregation shape is the
    point). Part (with the LIKE filter pushed into its scan), supplier,
    and nation broadcast; the only fact-sized exchange is
    lineitem-orders on the order key. All four money terms are narrow
    exact decimals, so the profit sum is order-invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation")
    amount = _rev_col() - F.col("p_retailprice").cast("decimal(15,2)") * F.col(
        "l_quantity"
    ).cast("decimal(15,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(RND(F.sum(amount).cast("double"), 2).alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Derived partsupp (round 8): the corpus ships no partsupp table, so the
# remaining five queries derive one DETERMINISTICALLY from the tables it
# does ship — the same dbgen idea (each part supplied by 4 suppliers at
# a computed key stride; NO dbgen-style +1 — this corpus's supplier
# keys are 0-based) with supply cost/stock as pure integer
# functions of (partkey, k). Both engines build the relation from the
# same closed-form expressions, so the DuckDB oracle certifies the
# whole derivation; costs stay in integer CENTS end-to-end (exact
# sums, no float drift) and divide to a double only on output.
# ps_suppkey = (p*4 + k) % S gives each part 4 CONSECUTIVE supplier
# keys from a per-part offset: provably distinct for every S >= 4 and
# jointly covering every supplier (each residue r is 4q + rem with
# rem in 0..3) — pinned by tests/test_tpch_partsupp.py across S
# regimes, including the S=4 case that broke a stride-based formula.
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
scnt AS (SELECT COUNT(*) AS s_cnt FROM supplier),
partsupp AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey * 4 + k.k) % s_cnt AS ps_suppkey,
           (p_partkey * 11 + k.k * 17) % 9999 + 1 AS ps_availqty,
           (p_partkey * 7 + k.k * 13) % 99900 + 100 AS ps_cost_cents
    FROM part, scnt, (SELECT unnest([0, 1, 2, 3]) AS k) k
)
"""


def _partsupp(spark: SparkSession, sf_dir: str, part: DataFrame) -> DataFrame:
    """The derived partsupp rows of the caller's ``part`` frame (see
    module comment): 4 rows per part, each carrying the frame's
    non-key columns through. Every row is a pure function of its own
    partkey, so a query that filters parts first derives only the rows
    it can output — exact for every caller, since no partsupp
    predicate or aggregate reads another part's rows. Shape at scale: a
    pure map over the part scan; the 1-row supplier count broadcasts
    (the BNLJ carrier the plan audit whitelists)."""
    carried = [c for c in part.columns if c != "p_partkey"]
    s_cnt = load_table(spark, sf_dir, "supplier").agg(
        F.count(F.lit(1)).alias("s_cnt")
    )
    return (
        part.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            "s_cnt",
            *carried,
            F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("k"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr("(p_partkey * 4 + k) % s_cnt").alias(
                "ps_suppkey"
            ),
            (((F.col("p_partkey") * 11 + F.col("k") * 17) % 9999) + 1)
            .cast("long")
            .alias("ps_availqty"),
            (((F.col("p_partkey") * 7 + F.col("k") * 13) % 99900) + 100)
            .cast("long")
            .alias("ps_cost_cents"),
            *carried,
        )
    )


_Q2_SQL = f"""
WITH {_PARTSUPP_SQL.strip()},
eu AS (
    SELECT ps_partkey, ps_suppkey, ps_cost_cents, s_name, s_acctbal, n_name
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
),
best AS (
    SELECT ps_partkey, MIN(ps_cost_cents) AS min_cents FROM eu GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, p_type,
       CAST(eu.ps_cost_cents AS DOUBLE) / 100.0 AS supplycost
FROM eu
JOIN best ON best.ps_partkey = eu.ps_partkey
         AND eu.ps_cost_cents = best.min_cents
JOIN part ON p_partkey = eu.ps_partkey
WHERE p_size IN (3, 15, 23, 36, 45) AND p_type LIKE '%ARD'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query("tpch_q2_min_cost_supplier", _Q2_SQL)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier) over the derived partsupp:
    for '%ARD'-type parts in five sizes, the EUROPE supplier(s) offering the
    region's minimum supply cost, ordered by account balance. The part
    predicate runs first and partsupp is derived from the kept parts
    only (the correlated MIN reads only its own part's rows, and only
    kept parts reach the output). Supplier/nation/region broadcast, and
    the correlated MIN becomes ``min(ps_cost_cents) OVER (PARTITION BY
    ps_partkey)`` over that one EUROPE set, so the set is evaluated
    once instead of feeding both a grouped MIN and the join back to
    it. The frontier compares exact integer cents (ties stay, as in
    the oracle), so it can never flip on float drift. Cost leaves as
    cents/100 only in the projection."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            F.col("p_size").isin(3, 15, 23, 36, 45)
            & F.col("p_type").like("%ARD")
        )
        .select("p_partkey", "p_brand", "p_type")
    )
    ps = _partsupp(spark, sf_dir, part)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .withColumn(
            "min_cents",
            F.min("ps_cost_cents").over(Window.partitionBy("ps_partkey")),
        )
        .where(F.col("ps_cost_cents") == F.col("min_cents"))
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "ps_partkey")
        .limit(100)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            "p_type",
            (F.col("ps_cost_cents").cast("double") / 100.0).alias(
                "supplycost"
            ),
        )
    )


_Q11_SQL = f"""
WITH {_PARTSUPP_SQL.strip()},
nat AS (
    SELECT ps_partkey, ps_cost_cents * ps_availqty AS v_cents
    FROM partsupp
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_7'
),
grouped AS (
    SELECT ps_partkey, SUM(v_cents) AS value_cents FROM nat GROUP BY 1
),
total AS (SELECT SUM(value_cents) AS total_cents FROM grouped)
SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS value
FROM grouped, total
WHERE value_cents * 1000 > total_cents
ORDER BY value_cents DESC, ps_partkey
"""


@query("tpch_q11_important_stock", _Q11_SQL)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification) over the derived
    partsupp: parts whose NATION_7 stock value exceeds 0.1% of the
    nation's total. The HAVING-against-scalar-subquery becomes an
    integer comparison ``value_cents * 1000 > total_cents`` — both
    sides exact cents, so the threshold can never flip on rounding —
    against a broadcast 1-row total folded FROM the per-part aggregate
    (sum of per-key sums == grand sum), so the partsupp build is not
    re-evaluated for the threshold. One shuffle (partkey agg)."""
    ps = _partsupp(
        spark, sf_dir, load_table(spark, sf_dir, "part").select("p_partkey")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat7 = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == "NATION_7"
    )
    v = (
        ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat7), sup.s_nationkey == nat7.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("v_cents"),
        )
    )
    grouped = v.groupBy("ps_partkey").agg(F.sum("v_cents").alias("value_cents"))
    total = grouped.agg(F.sum("value_cents").alias("total_cents"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .where(F.col("value_cents") * 1000 > F.col("total_cents"))
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / 100.0).alias("value"),
        )
    )


_Q16_SQL = f"""
WITH {_PARTSUPP_SQL.strip()}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type NOT LIKE 'MEDIUM%'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND ps_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@query("tpch_q16_supplier_part_counts", _Q16_SQL)
def tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) over the derived
    partsupp: distinct supplier counts by (brand, type, size) for
    selected sizes, excluding one brand, a type prefix, and flagged
    suppliers. The absent s_comment '%Complaints%' exclusion is
    adapted to negative account balance — same NOT-IN-subquery shape,
    executed as a broadcast anti-join (keys are non-null, so NOT IN
    and anti-join agree). Partsupp is derived from the filtered parts
    only, carrying (brand, type, size), so part is scanned once and
    never joined back; one shuffle for the distinct-count."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#45")
            & ~F.col("p_type").like("MEDIUM%")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    ps = _partsupp(spark, sf_dir, part)
    flagged = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(flagged),
            ps.ps_suppkey == flagged.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


_Q20_SQL = f"""
WITH {_PARTSUPP_SQL.strip()},
red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
shipped AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT ps_suppkey
    FROM partsupp
    JOIN red ON red.p_partkey = ps_partkey
    JOIN shipped ON shipped.l_partkey = ps_partkey
               AND shipped.l_suppkey = ps_suppkey
    WHERE CAST(ps_availqty * 2 AS DECIMAL(14,2)) > qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN cand ON s_suppkey = ps_suppkey
ORDER BY s_name, s_suppkey
"""


@query("tpch_q20_potential_promotion", _Q20_SQL)
def tpch_q20_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (potential part promotion) over the derived partsupp:
    suppliers holding more than half a year's shipped quantity of any
    'red%' part they supply. Partsupp is derived from the 'red%' part
    keys only (the IN-list filter needs no join back to part). The
    other nested IN subqueries become joins: the 1996 per-(part,
    supplier) shipped quantity aggregates once
    (exact decimal), the half-stock comparison runs as
    ``availqty * 2 > qty`` in decimals (no 0.5 float), and the
    distinct candidate suppliers semi-join back to supplier. The
    original correlates against lineitem absence as false — the inner
    join reproduces that (no shipped rows, no candidate row)."""
    red = load_table(spark, sf_dir, "part").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    ps = _partsupp(spark, sf_dir, red)
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qty")
    )
    cand = (
        ps.join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .where(
            (F.col("ps_availqty") * 2).cast("decimal(14,2)") > F.col("qty")
        )
        .select("ps_suppkey")
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.join(cand, sup.s_suppkey == cand.ps_suppkey)
        .orderBy("s_name", "s_suppkey")
        .select("s_suppkey", "s_name")
    )


_Q12_SQL = """
WITH li AS (
    SELECT l_orderkey,
           list_extract(
               ['MAIL', 'SHIP', 'AIR', 'RAIL', 'TRUCK', 'FOB', 'REG AIR'],
               CAST((l_orderkey + l_linenumber) % 7 AS INT) + 1
           ) AS l_shipmode,
           CAST(l_shipdate AS DATE)
               + CAST((l_partkey % 61) - 30 AS INT) AS l_commitdate,
           CAST(l_shipdate AS DATE)
               + CAST((l_suppkey % 30) + 1 AS INT) AS l_receiptdate,
           CAST(l_shipdate AS DATE) AS sd
    FROM lineitem
)
SELECT l_shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM li
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipmode IN ('MAIL', 'SHIP')
  AND l_commitdate < l_receiptdate
  AND sd < l_commitdate
  AND l_receiptdate >= DATE '1996-01-01'
  AND l_receiptdate <  DATE '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


@query("tpch_q12_shipmode_priority", _Q12_SQL)
def tpch_q12_shipmode_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority) over DERIVED
    shipping columns: the corpus ships no l_shipmode / l_commitdate /
    l_receiptdate, so all three derive deterministically from the keys
    (mode = 7-way key residue into the classic mode list; commit and
    receipt dates are bounded day offsets from the ship date) —
    identical closed forms in both engines, so the oracle certifies
    the derivation too. Semantics preserved: late-receipt lines
    (commit < receipt, shipped before commit) received in 1996, split
    by high/low order priority per mode. One fact shuffle on the order
    key; every derived filter is a codegen map over the scan."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "element_at(array('MAIL','SHIP','AIR','RAIL','TRUCK','FOB',"
            "'REG AIR'), CAST((l_orderkey + l_linenumber) % 7 AS INT) + 1)"
        ).alias("l_shipmode"),
        F.expr(
            "date_add(CAST(l_shipdate AS DATE),"
            " CAST((l_partkey % 61) - 30 AS INT))"
        ).alias("l_commitdate"),
        F.expr(
            "date_add(CAST(l_shipdate AS DATE),"
            " CAST((l_suppkey % 30) + 1 AS INT))"
        ).alias("l_receiptdate"),
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    filtered = li.where(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("sd") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_receiptdate") < F.lit("1997-01-01").cast("date"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        filtered.join(orders, filtered.l_orderkey == orders.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_shipmode")
    )
