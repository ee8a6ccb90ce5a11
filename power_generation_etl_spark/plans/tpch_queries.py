"""Remaining classic TPC-H query shapes, adapted to the driver's
synthetic schema (no partsupp table, no comment/phone/receiptdate
columns — each query keeps the *shape* that matters: the join topology,
the correlation to decorrelate, or the global-scalar HAVING).

Already covered elsewhere: Q1 (`pricing_summary`), Q3
(`shipping_priority`), Q4-like EXISTS (`customers_with_urgent_orders`),
Q5 (`regional_revenue`), Q10-like (`top_orders`), Q16
(`part_supplier_counts`), Q18 (`large_volume_customers`), correlated
scalar max (`customer_max_order`), LATERAL top-N (`lateral_top2_orders`).
This module adds the Q7 / Q8 / Q11 / Q13 / Q15 / Q17 / Q22 shapes.

Arithmetic discipline (same as the rest of the catalog): money travels
as exact integer cents — ``CAST(floor(price * (1 - disc) * 100) AS
BIGINT)`` is a per-row double expression with identical IEEE results in
both engines, and every subsequent sum/compare is exact bigint math.
``l_quantity`` is integral in this dataset (verified), so double sums
of it are exact at any summation order and plain ``avg`` is portable.
Every DuckDB ``sum()`` output is CAST to BIGINT (DuckDB widens integer
sums to HUGEINT, which would hash-mismatch Spark's bigint).

Scale notes per query are on the function docstrings; the common rule:
only constant-cardinality dims (nation, region) carry broadcast hints —
sf-proportional sides (part/supplier/customer) are left unhinted so AQE
broadcasts them only when their runtime size actually fits; fact⋈fact
joins shuffle on their keys, and global scalars are 1-row subqueries (Catalyst executes them
as separate tiny jobs — never a cartesian against the fact table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from power_generation_etl_spark.plans.queries import T, _register

# Revenue in exact integer cents — identical text on both sides.
_CENTS_SQL = "CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


def _cents() -> F.Column:
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")


# ---------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations, both directions.
# Join topology: lineitem⋈supplier⋈orders⋈customer + nation×2 (the same
# 25-row dim joined under two roles). At 100 TB the two nation joins are
# broadcasts; supplier/customer carry NO hint — AQE promotes them to
# broadcast when small, falling back to shuffle joins on a full TPC-H
# where customer is 1/10 of orders; the nation filter semi-reduces both fact
# inputs before the fact⋈fact shuffle either way.
# ---------------------------------------------------------------------------
@_register(
    "nation_pair_trade_volume",
    f"""
    WITH rev AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS ship_year,
             {_CENTS_SQL} AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    )
    SELECT supp_nation, cust_nation, ship_year,
           CAST(sum(cents) AS BIGINT) AS revenue_cents,
           count(*) AS n_items
    FROM rev
    GROUP BY supp_nation, cust_nation, ship_year
    ORDER BY supp_nation, cust_nation, ship_year
    """,
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = {"NATION_1", "NATION_2"}
    n_pair = n.filter(F.col("n_name").isin(*pair))
    # Reduce both fact sides to the two nations BEFORE the fact⋈fact
    # shuffle: supplier/customer semi-shrink via the broadcast nation dim.
    s2 = s.join(
        F.broadcast(n_pair.withColumnRenamed("n_name", "supp_nation")),
        s["s_nationkey"] == n_pair["n_nationkey"],
    ).select("s_suppkey", "supp_nation")
    c2 = c.join(
        F.broadcast(n_pair.withColumnRenamed("n_name", "cust_nation")),
        c["c_nationkey"] == n_pair["n_nationkey"],
    ).select("c_custkey", "cust_nation")
    li2 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        _cents().alias("cents"),
    )
    rev = (
        li2.join(s2, li2["l_suppkey"] == s2["s_suppkey"])
        .join(o.select("o_orderkey", "o_custkey"),
              li2["l_orderkey"] == F.col("o_orderkey"))
        .join(c2, F.col("o_custkey") == c2["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        rev.groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


# ---------------------------------------------------------------------------
# Q8 shape — market share: one nation's fraction of a region's yearly
# revenue for one part type. Conditional aggregation over a star join;
# the share is truncated integer parts-per-million of two exact bigint
# sums (round() on a double ratio can flake at a half boundary between
# engines — see the verify checklist).
# ---------------------------------------------------------------------------
@_register(
    "market_share_by_year",
    f"""
    WITH vol AS (
      SELECT year(o.o_orderdate) AS order_year,
             {_CENTS_SQL} AS cents,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'EUROPE'
    )
    SELECT order_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END)
                AS BIGINT) AS nation_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN cents ELSE 0 END)
                * 1000000 // CAST(sum(cents) AS BIGINT) AS BIGINT) AS share_ppm
    FROM vol
    GROUP BY order_year
    ORDER BY order_year
    """,
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    s = T(spark, sf_dir, "supplier")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE").select("r_regionkey")
    # Customer side: only customers in the target region survive.
    cust_region = (
        c.select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
                .select(F.col("n_nationkey").alias("c_nationkey"))
            ),
            "c_nationkey",
        )
        .select("c_custkey")
    )
    supp_nation = (
        s.select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )),
            "s_nationkey",
        )
        .select("s_suppkey", "supp_nation")
    )
    vol = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(supp_nation, li["l_suppkey"] == supp_nation["s_suppkey"])
        .join(
            o.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year")),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .join(
            cust_region,
            F.col("o_custkey") == cust_region["c_custkey"],
            "left_semi",
        )
        .select("order_year", _cents().alias("cents"), "supp_nation")
    )
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("cents")).otherwise(F.lit(0))
    )
    return (
        vol.groupBy("order_year")
        .agg(
            nation_cents.cast("bigint").alias("nation_cents"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        # Truncating integer div (Spark `div` ≡ DuckDB `//` on bigints).
        .withColumn(
            "share_ppm", F.expr("CAST(nation_cents * 1000000 div total_cents AS BIGINT)")
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# Q11 shape — HAVING against a global scalar: suppliers holding more
# than 1% of total revenue. The comparison is cross-multiplied exact
# integers (cents * 100 > total) — no float threshold. Catalyst runs
# the uncorrelated scalar subquery as its own 1-row job and injects the
# value as a literal filter; the per-supplier aggregate shuffles once.
# ---------------------------------------------------------------------------
@_register(
    "supplier_revenue_concentration",
    f"""
    WITH s AS (
      SELECT l_suppkey, CAST(sum({_CENTS_SQL}) AS BIGINT) AS revenue_cents
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, revenue_cents
    FROM s
    WHERE revenue_cents * 100 > (SELECT CAST(sum(revenue_cents) AS BIGINT) FROM s)
    ORDER BY revenue_cents DESC, l_suppkey
    """,
)
def supplier_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        WITH s AS (
          SELECT l_suppkey, CAST(sum(_c) AS BIGINT) AS revenue_cents
          FROM {li} GROUP BY l_suppkey
        )
        SELECT l_suppkey, revenue_cents
        FROM s
        WHERE revenue_cents * 100 > (SELECT sum(revenue_cents) FROM s)
        ORDER BY revenue_cents DESC, l_suppkey
        """,
        li=li.select("l_suppkey", _cents().alias("_c")),
    )


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution: LEFT OUTER join with an
# extra predicate in the join condition (not a post-filter — customers
# whose only orders are filtered out must still appear with count 0),
# then a histogram of the per-customer counts. Two shuffles total:
# (custkey) for the outer join+count, (c_count) for the tiny histogram.
# ---------------------------------------------------------------------------
@_register(
    "customer_order_count_dist",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (o["o_custkey"] == c["c_custkey"])
        & (o["o_orderpriority"] != "4-NOT SPECIFIED"),
        "left",
    )
    counts = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue, selected by equality
# against an uncorrelated scalar MAX (the "view vs max(view)" pattern).
# The revenue aggregate is computed once (Catalyst reuses the exchange
# for the subquery side); ties all surface, exactly as in TPC-H.
# ---------------------------------------------------------------------------
@_register(
    "top_supplier_revenue",
    f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(sum({_CENTS_SQL}) AS BIGINT) AS total_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_cents
    FROM supplier s JOIN rev ON rev.l_suppkey = s.s_suppkey
    WHERE rev.total_cents = (SELECT max(total_cents) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey, CAST(sum(_c) AS BIGINT) AS total_cents
          FROM {li} GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, rev.total_cents
        FROM {supp} s JOIN rev ON rev.l_suppkey = s.s_suppkey
        WHERE rev.total_cents = (SELECT max(total_cents) FROM rev)
        ORDER BY s.s_suppkey
        """,
        li=li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        ).select("l_suppkey", _cents().alias("_c")),
        supp=s.select("s_suppkey", "s_name"),
    )


# ---------------------------------------------------------------------------
# Q17 shape — small-quantity revenue with a CORRELATED per-part average:
# lineitems whose quantity is below 20% of their part's mean quantity.
# Catalyst decorrelates the avg subquery into a per-part aggregate +
# equi-join (one extra shuffle on partkey — never a per-row re-scan).
# `l_quantity` is integral here, so avg = exact-int / count is
# order-independent and portable; revenue stays integer cents.
# ---------------------------------------------------------------------------
@_register(
    "small_quantity_revenue",
    """
    SELECT count(*) AS n_items,
           CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'SMALL'
    WHERE l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l.l_partkey)
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT count(*) AS n_items,
               CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                 AS revenue_cents
        FROM {li} l
        JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                    FROM {li} l2
                                    WHERE l2.l_partkey = l.l_partkey)
        """,
        li=li.select("l_partkey", "l_quantity", "l_extendedprice"),
        part=p.filter(F.col("p_type") == "SMALL").select("p_partkey"),
    )


# ---------------------------------------------------------------------------
# Q22 shape — dormant high-balance customers: above the global average
# positive balance (cross-multiplied exact cents — no float threshold)
# AND no urgent orders (NOT EXISTS with a predicate → left-anti join on
# keys only; this dataset gives every customer at least one order, so
# the plain no-orders variant — already covered by the drift anti-join —
# would be vacuously empty here).
# ---------------------------------------------------------------------------
@_register(
    "dormant_customer_balances",
    """
    WITH bal AS (
      SELECT c_custkey, c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    avgpos AS (
      SELECT CAST(sum(bal_cents) AS BIGINT) AS total_cents,
             count(*) AS n_pos
      FROM bal WHERE bal_cents > 0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
    FROM bal c
    WHERE c.bal_cents * (SELECT n_pos FROM avgpos)
            > (SELECT total_cents FROM avgpos)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def dormant_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    pos = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS numcust,
               CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
        FROM {bal} c
        WHERE c.bal_cents * (SELECT n_pos FROM {avgpos})
                > (SELECT total_cents FROM {avgpos})
          AND NOT EXISTS (SELECT 1 FROM {urgent} o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        bal=c,
        avgpos=pos,
        urgent=o,
    )


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive bracket predicates: three (brand, quantity
# range, size range) brackets OR-ed together. The whole filter is one
# scan-stage predicate over the part join (unhinted — AQE broadcasts
# the filtered part side when it fits) — Catalyst pushes the part-side
# conjuncts (brand/size) below the join and the quantity conjuncts
# into the lineitem scan.
# ---------------------------------------------------------------------------
@_register(
    "bracket_revenue",
    f"""
    SELECT CAST(sum(cents) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
      SELECT {_CENTS_SQL} AS cents
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE (p.p_brand = 'Brand#13' AND l.l_quantity BETWEEN 1 AND 11
             AND p.p_size BETWEEN 1 AND 5)
         OR (p.p_brand = 'Brand#19' AND l.l_quantity BETWEEN 10 AND 20
             AND p.p_size BETWEEN 1 AND 10)
         OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 20 AND 30
             AND p.p_size BETWEEN 1 AND 15)
    )
    """,
)
def bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, z = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    brackets = (
        ((b == "Brand#13") & q.between(1, 11) & z.between(1, 5))
        | ((b == "Brand#19") & q.between(10, 20) & z.between(1, 10))
        | ((b == "Brand#23") & q.between(20, 30) & z.between(1, 15))
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(brackets)
        .agg(
            F.sum(_cents()).cast("bigint").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q14 shape — promo revenue share in a date window: one part join
# (AQE-sized), two conditional sums, and a ppm ratio of exact bigints
# (truncating integer division — no float threshold).
# ---------------------------------------------------------------------------
@_register(
    "promo_revenue_share",
    f"""
    WITH j AS (
      SELECT {_CENTS_SQL} AS cents, p.p_type AS p_type
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(l.l_shipdate) = 1996 AND month(l.l_shipdate) <= 3
    )
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                AS BIGINT) AS promo_cents,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
                * 1000000 // CAST(sum(cents) AS BIGINT) AS BIGINT)
               AS promo_ppm
    FROM j
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").where(
        (F.year("l_shipdate") == 1996) & (F.month("l_shipdate") <= 3)
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        _cents().alias("cents"), "p_type"
    )
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("cents")).otherwise(F.lit(0))
    )
    return (
        j.agg(
            promo.cast("bigint").alias("promo_cents"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        ).withColumn(
            "promo_ppm",
            F.expr("CAST(promo_cents * 1000000 div total_cents AS BIGINT)"),
        )
    )


# ---------------------------------------------------------------------------
# Q12 shape — two-level conditional counts after an orders⋈lineitem
# join (the dataset has no l_shipmode; l_returnflag carries the
# grouping role, order priority the high/low split). One shuffle on
# the join key, then a tiny grouped aggregate.
# ---------------------------------------------------------------------------
@_register(
    "priority_by_returnflag",
    """
    SELECT l.l_returnflag AS returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE year(l.l_shipdate) = 1997
    GROUP BY 1
    ORDER BY 1
    """,
)
def priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").where(F.year("l_shipdate") == 1997)
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_count"),
        )
        .orderBy("returnflag")
    )


# ---------------------------------------------------------------------------
# Q9 shape — product-type profit by supplier nation and order year.
# No partsupp table: unit cost is proxied as 20% of the part's retail
# price in exact cents; profit stays pure bigint arithmetic. The part
# join reduces lineitem before the orders shuffle (AQE-sized build).
# ---------------------------------------------------------------------------
@_register(
    "product_type_profit",
    f"""
    WITH pr AS (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS order_year,
             {_CENTS_SQL}
               - CAST(floor(p.p_retailprice * 20) AS BIGINT)
                 * CAST(l.l_quantity AS BIGINT) AS profit_cents
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
                         AND p.p_name LIKE '%widget%'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
    )
    SELECT nation, order_year,
           CAST(sum(profit_cents) AS BIGINT) AS profit_cents
    FROM pr
    GROUP BY nation, order_year
    ORDER BY nation, order_year
    """,
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = (
        T(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.floor(F.col("p_retailprice") * 20).cast("bigint").alias("unit_cost"),
        )
    )
    sn = (
        T(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_name").alias("nation"),
                )
            ),
            "s_nationkey",
        )
        .select("s_suppkey", "nation")
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("order_year")
    )
    profit = _cents() - F.col("unit_cost") * F.col("l_quantity").cast("bigint")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("nation", "order_year", profit.alias("profit_cents"))
        .groupBy("nation", "order_year")
        .agg(F.sum("profit_cents").cast("bigint").alias("profit_cents"))
        .orderBy("nation", "order_year")
    )


# ---------------------------------------------------------------------------
# Q20 shape — nested IN: suppliers who moved > 50 units of 'cold %'
# parts. The inner aggregate reduces lineitem to qualifying supplier
# keys; the outer membership is a broadcast LEFT SEMI against the tiny
# supplier dim — never a materialized IN-list.
# ---------------------------------------------------------------------------
@_register(
    "suppliers_with_excess_stock",
    """
    SELECT s.s_name AS supplier, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE 'cold%'
      GROUP BY l.l_suppkey
      HAVING sum(CAST(l.l_quantity AS BIGINT)) > 50
    )
    ORDER BY supplier
    """,
)
def suppliers_with_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    p = (
        T(spark, sf_dir, "part")
        .where(F.col("p_name").like("cold%"))
        .select("p_partkey")
    )
    movers = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(movers, s["s_suppkey"] == movers["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(F.col("s_name").alias("supplier"), F.col("n_name").alias("nation"))
        .orderBy("supplier")
    )


# ---------------------------------------------------------------------------
# Q21 shape — suppliers who kept finished orders waiting: the classic
# EXISTS + NOT EXISTS pair of lineitem self-joins. "Late" = shipped
# more than 60 days after the order date (no receipt/commit dates in
# this dataset). Both subqueries compile to LEFT SEMI / LEFT ANTI
# equi-joins on the order key with the supplier inequality as a join
# residual — no correlated re-scan per row.
# ---------------------------------------------------------------------------
@_register(
    "suppliers_kept_orders_waiting",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
                       AND o.o_orderstatus = 'F'
      WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name AS supplier, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, supplier
    LIMIT 20
    """,
)
def suppliers_kept_orders_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = (
        T(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    multi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_late = multi.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(s, F.col("l_suppkey") == s["s_suppkey"])
        .groupBy(F.col("s_name").alias("supplier"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "supplier")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q2 shape — cheapest supplier per part within a region: the correlated
# MIN subquery, decorrelated into one keyed aggregate + an equi-join
# back on (part, min-cost). Cost is the supplier's total supplied cents
# for the part (exact bigint MIN — no float compare); ties keep every
# minimal supplier, as in the original query.
# ---------------------------------------------------------------------------
@_register(
    "min_cost_supplier_per_part",
    f"""
    WITH cost AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             CAST(sum({_CENTS_SQL}) AS BIGINT) AS supply_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
      GROUP BY 1, 2
    ),
    mn AS (SELECT partkey, min(supply_cents) AS mn_cents FROM cost GROUP BY 1)
    SELECT p.p_partkey AS partkey, p.p_name AS part_name,
           s.s_name AS supplier, s.s_acctbal AS acctbal,
           c.supply_cents AS supply_cents
    FROM cost c
    JOIN mn ON mn.partkey = c.partkey AND c.supply_cents = mn.mn_cents
    JOIN part p ON p.p_partkey = c.partkey AND p.p_size BETWEEN 10 AND 20
    JOIN supplier s ON s.s_suppkey = c.suppkey
    ORDER BY acctbal DESC, partkey, supplier
    LIMIT 100
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    region_supp = (
        T(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation")
                .join(
                    F.broadcast(
                        T(spark, sf_dir, "region").where(
                            F.col("r_name") == "ASIA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
                .select(F.col("n_nationkey").alias("s_nationkey"))
            ),
            "s_nationkey",
        )
        .select("s_suppkey")
    )
    cost = (
        li.join(
            region_supp,
            li["l_suppkey"] == region_supp["s_suppkey"],
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
        )
        .agg(F.sum(_cents()).cast("bigint").alias("supply_cents"))
    )
    mn = cost.groupBy("partkey").agg(F.min("supply_cents").alias("mn_cents"))
    p = (
        T(spark, sf_dir, "part")
        .where(F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        cost.join(
            mn,
            (cost["partkey"] == mn["partkey"])
            & (cost["supply_cents"] == mn["mn_cents"]),
        )
        .drop(mn["partkey"])
        .join(p, F.col("partkey") == p["p_partkey"])
        .join(s, F.col("suppkey") == s["s_suppkey"])
        .select(
            "partkey",
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier"),
            F.col("s_acctbal").alias("acctbal"),
            "supply_cents",
        )
        .orderBy(F.desc("acctbal"), "partkey", "supplier")
        .limit(100)
    )
