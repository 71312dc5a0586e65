"""Additional TPC-H-shaped query coverage (M4 widening).

The reference's analysis surface (SURVEY §2.8-2.9) is exercised here
with six more canonical decision-support shapes adapted to the fixture
columns, each chosen for a distinct plan pattern the engine must get
right at 100 TB:

* q4-shape  — EXISTS semi-join with a non-equi correlated predicate
* q7-shape  — two-sided dim filter on a symmetric nation pair (join
  reordering + broadcast both dims)
* q10-shape — selective fact filter → 4-way join → top-k on aggregate
* q14-shape — conditional aggregate ratio over a fact×dim join
* q18-shape — HAVING on a grouped fact, re-joined to the fact (the
  "aggregate feeds its own filter" two-pass shape)
* q19-shape — disjunction of conjunctive range predicates (OR of ANDs:
  pushdown-hostile; the engine still prunes columns and broadcasts)

All shuffles are on join/group keys of the fact side only; dims are
either hard-broadcast (bounded: nation) or left to AQE (growing:
customer/supplier/part), per the repo-wide scale posture in
`plans/relational.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table


def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority having ≥1 lineitem shipped >60 days after
    order date — EXISTS with a non-equi correlated predicate, planned
    as a left-semi join (no row duplication, fact shuffled once)."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > F.date_add(o.o_orderdate, 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between a symmetric nation pair by year:
    supplier-nation × customer-nation flows for (NATION_1, NATION_2)
    in both directions. Both nation dims are hard-broadcast (bounded);
    the only shuffles are the two fact joins."""
    n1 = "NATION_1"
    n2 = "NATION_2"
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = table(spark, sf_dir, "lineitem")

    supp_n = supp.join(
        F.broadcast(nation.withColumnRenamed("n_name", "supp_nation")),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cust_n = cust.join(
        F.broadcast(nation.withColumnRenamed("n_name", "cust_nation")),
        cust.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "cust_nation")

    joined = (
        l.join(orders, l.l_orderkey == orders.o_orderkey)
        .join(supp_n, l.l_suppkey == supp_n.s_suppkey)
        .join(cust_n, F.col("o_custkey") == cust_n.c_custkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


Q7_ORACLE = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in one quarter —
    selective fact filters first (pushed to the scans), then the
    4-way join, then top-k on the aggregated (small) side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    joined = (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share for one quarter: conditional aggregate over
    a fact×part join — one output row, so the whole query is map-side
    partials + a singleton reduce."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = l.join(p, l.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0.0)))
            / F.sum(net),
            4,
        ).alias("promo_pct"),
        F.count("*").alias("n_items"),
    )


Q14_ORACLE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds 300, with their customer —
    the aggregate-feeds-its-own-filter shape: group the fact, HAVING,
    then join the survivors (tiny) back to dims broadcast-style."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
    )


Q18_ORACLE = """
SELECT c_custkey, c_name, l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM (SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR-of-ANDs predicate across brand/size/quantity
    bands — the pushdown-hostile shape: the disjunction can't reach the
    scan, but column pruning and the part-side broadcast still apply."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    l = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    joined = l.join(p, l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return joined.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


Q19_ORACLE = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue — the argmax-via-
    scalar-subquery shape: the revenue 'view' is computed once, its max
    is a 1-row broadcast back onto itself."""
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    revenue = l.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mr"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.mr)
        .join(s, revenue.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY late shipper on a multi-supplier
    order — the q21 double-correlation shape: EXISTS (another supplier
    on the order) AND NOT EXISTS (another LATE supplier on the order),
    planned as a semi join and an anti join on the same fact."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier")
    li = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)).alias("late"),
    )
    l1 = li.filter(F.col("late")).select("l_orderkey", "l_suppkey").distinct()
    # EXISTS: some other supplier shipped on the same order
    others = li.select("l_orderkey", F.col("l_suppkey").alias("o_supp")).distinct()
    with_others = l1.join(
        others,
        (l1.l_orderkey == others.l_orderkey) & (l1.l_suppkey != others.o_supp),
        "left_semi",
    )
    # NOT EXISTS: no other supplier was ALSO late on that order
    other_late = l1.select("l_orderkey", F.col("l_suppkey").alias("o_supp")).distinct()
    sole = with_others.join(
        other_late,
        (with_others.l_orderkey == other_late.l_orderkey)
        & (with_others.l_suppkey != other_late.o_supp),
        "left_anti",
    )
    return (
        sole.join(s, sole.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_sole_late_orders"))
    )


Q21_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 30 DAY AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late)
SELECT s_suppkey, s_name, count(*) AS n_sole_late_orders
FROM l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM li x
              WHERE x.l_orderkey = l1.l_orderkey AND x.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 y
                  WHERE y.l_orderkey = l1.l_orderkey AND y.l_suppkey != l1.l_suppkey)
GROUP BY s_suppkey, s_name
"""


def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count/balance of customers with above-average balance
    and no orders after 1999 — scalar-average subquery feeding an anti
    join (the q22 shape on available columns)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return dormant.groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey")).agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
    )


Q22_ORACLE = """
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       count(*) AS n_custs,
       round(sum(c_acctbal), 4) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1's share of PROMO-part revenue inside its own region by
    year — the q8 shape: the widest join in the suite (lineitem ×
    orders × customer × supplier × part × nation ×2 × region), with a
    conditional-sum ratio on top. Bounded dims broadcast; the fact is
    shuffled only on its join keys; the share ratio is a quotient of
    two float sums (non-terminating decimals — no round-half hazard)."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = table(spark, sf_dir, "lineitem")

    # region of the TARGET nation, resolved from the bounded dims
    target_region = (
        n.filter(F.col("n_name") == "NATION_1")
        .join(r, n.n_regionkey == r.r_regionkey)
        .select(F.col("r_regionkey").alias("target_rk"))
    )
    cust_nation = c.join(
        F.broadcast(n.select("n_nationkey", "n_regionkey")),
        c.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey", "n_regionkey")
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"), "n_name")),
        s.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))

    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        l.join(p, l.l_partkey == p.p_partkey, "left_semi")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(cust_nation, F.col("o_custkey") == cust_nation.c_custkey)
        .join(F.broadcast(target_region), F.col("n_regionkey") == F.col("target_rk"), "left_semi")
        .join(supp_nation, l.l_suppkey == supp_nation.s_suppkey)
    )
    return joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year")).agg(
        F.floor(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", net).otherwise(F.lit(0.0)))
            / F.sum(net)
            * 1e6
        ).alias("mkt_share_ppm"),
        F.count("*").alias("n_items"),
    )


Q8_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(floor(sum(CASE WHEN sn.n_name = 'NATION_1'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END)
                  / sum(l_extendedprice * (1 - l_discount)) * 1e6) AS BIGINT)
           AS mkt_share_ppm,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  AND cn.n_regionkey = (SELECT n_regionkey FROM nation WHERE n_name = 'NATION_1')
GROUP BY 1
"""


QUERIES = {
    "q4_priority_late_ship": q4_priority_late_ship,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_items": q10_returned_items,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q19_disjunctive_predicates": q19_disjunctive_predicates,
    "q15_top_supplier": q15_top_supplier,
    "q21_sole_late_supplier": q21_sole_late_supplier,
    "q22_dormant_rich_customers": q22_dormant_rich_customers,
    "q8_market_share": q8_market_share,
}

ORACLES = {
    "q4_priority_late_ship": Q4_ORACLE,
    "q7_nation_volume": Q7_ORACLE,
    "q10_returned_items": Q10_ORACLE,
    "q14_promo_revenue": Q14_ORACLE,
    "q18_large_volume_orders": Q18_ORACLE,
    "q19_disjunctive_predicates": Q19_ORACLE,
    "q15_top_supplier": Q15_ORACLE,
    "q21_sole_late_supplier": Q21_ORACLE,
    "q22_dormant_rich_customers": Q22_ORACLE,
    "q8_market_share": Q8_ORACLE,
}
