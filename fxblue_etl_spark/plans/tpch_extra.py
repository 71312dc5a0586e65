"""TPC-H decorrelation shapes not covered by `plans/tpch_more.py`
(M4 widening, round 2): Q17, Q20, Q2, Q9, Q11, Q13, Q16 — adapted to
the fixture schema (which has no ``partsupp``; the supplier×part
relation is derived from ``lineitem`` where needed).

Each is here for a distinct optimizer pattern:

* q17-shape — correlated scalar AVG subquery against the SAME fact
  (decorrelated to a per-key aggregate self-join)
* q20-shape — nested IN-subquery chain (part → grouped lineitem
  HAVING → supplier) feeding a left-semi join
* q2-shape  — correlated argmin: pick the minimum-cost supplier per
  part (window argmin over a derived supplier×part relation)
* q9-shape  — profit by (nation, year) over a name-filtered part join
* q11-shape — group value vs a GLOBAL scalar threshold (aggregate
  compared against a fraction of the grand total)
* q13-shape — outer-join count distribution (customers with zero
  orders kept by a LEFT join; histogram of counts-of-counts)
* q16-shape — count(DISTINCT supplier) per part attribute group with
  a NOT-IN exclusion subquery

Scale posture matches the repo rule: facts shuffle only on join/group
keys; nation/region are hard-broadcast; part/supplier/customer left
to AQE. Quotient outputs follow the floored-scaled-integer rule
(never ``round()`` of a sum/count quotient).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from small-quantity orders of Brand#1 parts: lineitems
    with quantity below 20% of that part's average quantity.

    The correlated AVG decorrelates to a per-partkey aggregate joined
    back to the same fact — one extra shuffle on the correlation key,
    never a per-row subquery. The threshold compare is engine-stable:
    quantities are small integers, so sums are exact in double and
    the quotient is bit-identical in both engines.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    thresh = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    small = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(thresh, l.l_partkey == thresh.t_partkey)
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
    )
    return small.agg(
        F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        F.count("*").alias("n_items"),
    )


Q17_ORACLE = """
SELECT round(sum(l_extendedprice), 4) AS total_price,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (SELECT 0.2 * avg(i.l_quantity)
                      FROM lineitem i
                      WHERE i.l_partkey = l.l_partkey)
"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape — late-shipment counts split by order priority class
    per ship mode: the CASE-conditional two-way count the classic
    query runs after the lineitem⋈orders join, completing the 22-shape
    TPC-H sweep (q12 was the one shape without a fixture query).

    DEVIATION, documented: the fixture lineitem carries no
    l_shipmode/l_commitdate/l_receiptdate, so the mode key is the
    deterministic surrogate ``MODE_<l_suppkey % 3>`` and "late" is
    ``l_shipdate > o_orderdate + 60 days`` — the join/filter/CASE-agg
    plan shape (one fact join on the order key, one
    map-side-combined groupBy over a mode-bounded key space) is
    exactly Q12's; only the column spellings differ.

    Scale shape: the only shuffles are the l_orderkey equi-join and
    the 3-key aggregate; the CASE sums combine map-side.
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.concat(F.lit("MODE_"), (F.col("l_suppkey") % 3).cast("string")).alias(
            "ship_mode"
        ),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = l.join(o, l.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("ship_mode")
        .agg(
            F.sum(hi.cast("long")).cast("long").alias("high_line_count"),
            F.sum((~hi).cast("long")).cast("long").alias("low_line_count"),
        )
    )


Q12_ORACLE = """
SELECT 'MODE_' || CAST(l_suppkey % 3 AS VARCHAR) AS ship_mode,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def q20_part_supp_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in NATION_9 who shipped >40 units of some PROMO part
    during 1996 — the nested IN-subquery chain:

        part (name filter) → lineitem grouped per (supp, part)
        HAVING sum(qty) > 40 → supplier left-semi join

    Both IN levels decorrelate to semi joins; the grouped HAVING is a
    map-side-combinable aggregate on the (supp, part) key.
    """
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    heavy_supp = (
        l.join(p, l.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .join(heavy_supp, s.s_suppkey == heavy_supp.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 4).alias("s_acctbal"))
    )


Q20_ORACLE = """
SELECT s_suppkey, s_name, round(s_acctbal, 4) AS s_acctbal
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_9')
  AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 40)
"""


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per large STANDARD part in EUROPE —
    the Q2 argmin shape. The supplier×part relation derives from
    lineitem (no partsupp in the fixture); "cost" is the supplier's
    account balance; ties break on s_suppkey.

    Argmin is a row_number window over the derived relation — one
    shuffle on the part key, no correlated re-scan per part.
    """
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") >= 40))
        .select("p_partkey", "p_name")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    region_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(region_supp, l.l_suppkey == region_supp.s_suppkey)
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 4).alias("s_acctbal"),
            F.col("n_name").alias("supp_nation"),
        )
    )


Q2_ORACLE = """
WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
cand AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal,
         n.n_name AS supp_nation,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rk
  FROM rel
  JOIN part p ON rel.l_partkey = p.p_partkey
  JOIN supplier s ON rel.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_type = 'STANDARD' AND p.p_size >= 40 AND r.r_name = 'EUROPE')
SELECT p_partkey, p_name, s_suppkey, s_name,
       round(s_acctbal, 4) AS s_acctbal, supp_nation
FROM cand WHERE rk = 1
"""


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by (supplier nation, year) over parts whose name
    contains 'red' — the Q9 shape. Profit = discounted revenue
    minus a retail-price-based cost proxy (no ps_supplycost in the
    fixture). The name filter prunes the part side before the fact
    join; nation is hard-broadcast.
    """
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.1) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"), F.count("*").alias("n_items"))
    )


Q9_ORACLE = """
SELECT n.n_name AS nation,
       CAST(year(l.l_shipdate) AS INT) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.1 * p.p_retailprice * l.l_quantity), 4) AS sum_profit,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
"""


def q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from NATION_9 suppliers exceeds 2×
    the nation's average per-part value — the Q11 group-vs-global-
    scalar shape, with a scale-invariant threshold (a fixed fraction
    of the grand total selects nothing once the part count grows).
    The global scalar is a one-row aggregate broadcast into the
    compare, not a shuffle."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        # semi join keeps lineitem columns only; re-derive value
        .select("l_partkey", val.alias("val"))
    )
    per_part = nat.groupBy("l_partkey").agg(F.sum("val").alias("part_value"))
    thresh = per_part.agg((F.avg("part_value") * 2.0).alias("thresh"))
    return (
        per_part.crossJoin(F.broadcast(thresh))
        .filter(F.col("part_value") > F.col("thresh"))
        .select("l_partkey", F.round("part_value", 4).alias("part_value"))
    )


Q11_ORACLE = """
WITH nat AS (
  SELECT l_partkey, l_extendedprice * (1 - l_discount) AS val
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_9'))
SELECT l_partkey, round(part_value, 4) AS part_value
FROM (SELECT l_partkey, sum(val) AS part_value FROM nat GROUP BY l_partkey) per_part
WHERE part_value > (SELECT avg(part_value) * 2.0
                    FROM (SELECT sum(val) AS part_value FROM nat GROUP BY l_partkey))
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer INCLUDING zero-order
    customers — the Q13 outer-join histogram. The left join keeps
    customers with no orders (count = 0); the second aggregate is a
    count-of-counts over at most |customers| rows."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("n_customers"))


Q13_ORACLE = """
SELECT c_count, count(*) AS n_customers
FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority != '1-URGENT'
      GROUP BY c.c_custkey)
GROUP BY c_count
"""


def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per (brand, type, size) for non-
    Brand#1 parts, excluding suppliers from a NOT-IN subquery
    (negative-balance suppliers) — the Q16 shape: anti join feeding a
    count(DISTINCT) over a derived supplier×part relation."""
    rel = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 20))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        rel.join(p, rel.l_partkey == p.p_partkey)
        .join(bad, rel.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) rel
JOIN part p ON rel.l_partkey = p.p_partkey
WHERE p.p_brand != 'Brand#1' AND p.p_size <= 20
  AND rel.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


QUERIES = {
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q12_shipmode_priority": q12_shipmode_priority,
    "q20_part_supp_chain": q20_part_supp_chain,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_profit_by_nation_year": q9_profit_by_nation_year,
    "q11_value_concentration": q11_value_concentration,
    "q13_order_count_distribution": q13_order_count_distribution,
    "q16_supplier_part_variety": q16_supplier_part_variety,
}

ORACLES = {
    "q17_small_qty_revenue": Q17_ORACLE,
    "q12_shipmode_priority": Q12_ORACLE,
    "q20_part_supp_chain": Q20_ORACLE,
    "q2_min_cost_supplier": Q2_ORACLE,
    "q9_profit_by_nation_year": Q9_ORACLE,
    "q11_value_concentration": Q11_ORACLE,
    "q13_order_count_distribution": Q13_ORACLE,
    "q16_supplier_part_variety": Q16_ORACLE,
}
