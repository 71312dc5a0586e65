"""Relational query surface over the fixture star schema (SURVEY §2.8-2.9, M4).

The reference's registry columns (`trade win`, `Total return`,
`Trades per day` — `RSS PARSER/gcp_rss.py:61-63`) are per-account
aggregates of the trade tables, and its denormalizing join J1
(`RSS PARSER/gcp_rss.py:49-63,162`) copies small-dim metadata onto every
fact row. This module provides that analysis surface on the driver
fixtures: multiway joins with broadcast dims, aggregation with
conditional metrics (win-rate style), semi/anti joins, set ops,
rollup/cube/grouping-sets, window ranking/frames, top-k, and JSON
extraction over `events.props`.

Scale posture: facts (`orders`, `lineitem`, `events`) are only ever
shuffled on their join/group keys. Truly bounded dims (`region`,
`nation` — fixed by geography) carry hard broadcast hints; growing
dims (`customer`, `supplier`) get no hint — AQE broadcasts them while
they fit `autoBroadcastJoinThreshold` and falls back to a shuffle
join at warehouse scale, where a forced hint would OOM the build
side. Every float aggregate is
rounded at the final projection (both here and in the DuckDB oracles)
so the order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table
from ..session import tune


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    return table(spark, sf_dir, name)


# ── Flagship: per-account trade rollup with broadcast dims ───────────────
# The J1 + §2.9 shape: account registry (customer) denormalized onto
# trades (orders×lineitem), rolled up to per-account performance
# metrics incl. a win-rate-style conditional aggregate — the analytic
# the reference's registry consumes (`RSS PARSER/gcp_rss.py:61-63`).

def flagship_account_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")

    # dims: nation⋈region is bounded (geography) — always broadcast.
    # The denormalized account dim is customer-sized: broadcastable at
    # test SF but ~15B rows at 100 TB, so no hard hint — AQE broadcasts
    # it while it fits the threshold and falls back to a shuffle join
    # beyond that. Only shuffles then: the fact join key + the groupBy.
    dims = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    accounts = customer.join(
        F.broadcast(dims), customer.c_nationkey == dims.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name", "r_name")

    facts = lineitem.select("l_orderkey", "l_extendedprice", "l_discount").join(
        orders.select("o_orderkey", "o_custkey", "o_orderstatus"),
        lineitem.l_orderkey == orders.o_orderkey,
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Aggregate BEFORE the account join: the groupBy key IS the join
    # key, and every aggregate reads only fact columns, so the rollup
    # is pushed below the join (Catalyst does not do this rewrite
    # itself). The account join then carries n_accounts rows, not
    # n_trades rows — at 100 TB that is the difference between joining
    # a per-account summary and shuffling every fact row through the
    # join. The aggregates are identical: custkey is unique in
    # customer, so post-join groups == pre-join groups.
    per_account = facts.groupBy("o_custkey").agg(
        F.count("*").alias("n_trades"),
        F.sum(net).alias("sum_net"),
        # 0/1 doubles sum exactly → the fill quotient is the same k/n
        # rational as before
        F.sum((F.col("o_orderstatus") == "F").cast("double")).alias("n_fill"),
        F.max("l_extendedprice").alias("max_price"),
    )
    return per_account.join(
        accounts, per_account.o_custkey == accounts.c_custkey
    ).select(
        F.col("c_custkey").alias("account_id"),
        F.col("c_name").alias("account_name"),
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        "n_trades",
        F.round(F.col("sum_net"), 4).alias("gross_pnl"),
        # floored 1e4-scaled avg, not round(avg, 4): avg is a
        # sum/count quotient that can land on a decimal half-boundary
        # (seen at sf0.01: 2/1500 rows, e.g. 49898.93575) where
        # Spark's HALF_UP and DuckDB's binary-double rounding
        # legitimately disagree; floor of the quotient is
        # engine-stable. Same association as avg(): (sum/count)*1e4.
        F.floor(F.col("sum_net") / F.col("n_trades") * 1e4).alias(
            "avg_trade_pnl_e4"
        ),
        # floored ppm, not round(avg, 4): the win-rate is a k/n
        # rational that can terminate on a decimal half-boundary
        # (k/160 = .00625...) where Spark HALF_UP and DuckDB
        # binary-double rounding disagree; floor of the bit-identical
        # quotient is engine-stable.
        F.floor(F.col("n_fill") / F.col("n_trades") * 1e6).alias(
            "fill_rate_ppm"
        ),
        F.round(F.col("max_price"), 4).alias("max_trade"),
    )


FLAGSHIP_ORACLE = """
SELECT c.c_custkey AS account_id,
       c.c_name AS account_name,
       n.n_name AS nation,
       r.r_name AS region,
       count(*) AS n_trades,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS gross_pnl,
       CAST(floor(avg(l.l_extendedprice * (1 - l.l_discount)) * 1e4) AS BIGINT) AS avg_trade_pnl_e4,
       CAST(floor(avg(CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END) * 1e6) AS BIGINT) AS fill_rate_ppm,
       round(max(l.l_extendedprice), 4) AS max_trade
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3, 4
"""


# ── TPC-H-shaped aggregates ──────────────────────────────────────────────

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.

    The filter and the 4-column read schema reach the parquet scan
    (predicate pushdown + column pruning); map-side partial aggregation
    means the shuffle carries only 6 groups regardless of fact size.
    """
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            # avgs as floored 1e4-scaled ints: sum/count quotients can
            # land on decimal half-boundaries where Spark HALF_UP and
            # DuckDB binary rounding disagree (same rule as the
            # flagship's avg_trade_pnl_e4).
            F.floor(F.avg("l_quantity") * 1e4).alias("avg_qty_e4"),
            F.floor(F.avg("l_extendedprice") * 1e4).alias("avg_price_e4"),
            F.floor(F.avg("l_discount") * 1e4).alias("avg_disc_e4"),
            F.count("*").alias("count_order"),
        )
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       CAST(floor(avg(l_quantity) * 1e4) AS BIGINT) AS avg_qty_e4,
       CAST(floor(avg(l_extendedprice) * 1e4) AS BIGINT) AS avg_price_e4,
       CAST(floor(avg(l_discount) * 1e4) AS BIGINT) AS avg_disc_e4,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    # no broadcast hint on customer: AQE broadcasts the pruned
    # c_custkey column while small, shuffle-joins at data-warehouse SF
    joined = l.join(o, l.l_orderkey == o.o_orderkey).join(
        c.select("c_custkey"), o.o_custkey == c.c_custkey
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, one fact shuffle.

    nation/region carry hard broadcast hints (bounded by geography);
    customer/supplier are left to AQE — broadcast while under the
    threshold, shuffle-join at warehouse scale where a forced hint
    would OOM the build side.
    """
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    # customer and supplier must share a nation (TPC-H Q5 semantics)
    joined = (
        l.join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .join(c.select("c_custkey", "c_nationkey"), F.col("o_custkey") == c.c_custkey)
        .join(s.select("s_suppkey", "s_nationkey"), l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q5_ORACLE = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY r_name, n_name
"""


# ── Semi / anti joins ────────────────────────────────────────────────────

def semi_customers_with_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers having ≥1 urgent order (left_semi — no row dup)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SEMI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


def anti_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS: customers with no orders at all (left_anti)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


ANTI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# ── Set operations ───────────────────────────────────────────────────────

def setop_active_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over nation keys of customers vs suppliers.

    Returns one row per (op, nationkey) so all three set ops are
    exercised and hash-checked in a single deterministic result.
    """
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    union = c.union(s).distinct().withColumn("op", F.lit("union"))
    intersect = c.intersect(s).withColumn("op", F.lit("intersect"))
    except_ = c.distinct().exceptAll(s.distinct()).withColumn("op", F.lit("except"))
    return union.unionByName(intersect).unionByName(except_).select("op", "nationkey")


SETOP_ORACLE = """
WITH c AS (SELECT c_nationkey AS nationkey FROM customer),
     s AS (SELECT s_nationkey AS nationkey FROM supplier)
SELECT 'union' AS op, nationkey FROM (SELECT DISTINCT nationkey FROM (SELECT * FROM c UNION ALL SELECT * FROM s))
UNION ALL
SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
UNION ALL
SELECT 'except' AS op, nationkey FROM (SELECT DISTINCT nationkey FROM c EXCEPT SELECT DISTINCT nationkey FROM s)
"""


def setop_multiset_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops — INTERSECT ALL / EXCEPT ALL, the
    multiplicity-preserving variants `setop_active_nations` doesn't
    touch: order-priority multisets of open ('O') vs finished ('F')
    orders, aggregated per value so the result stays catalog-bounded.
    EXCEPT ALL keeps max(n_a − n_b, 0) copies and INTERSECT ALL keeps
    min(n_a, n_b) — multiplicity arithmetic both engines implement
    natively; the aggregate certifies it exactly."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("v")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("v")
    )
    ex = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    ix = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    return (
        ex.unionByName(ix)
        .groupBy("op", "v")
        .agg(F.count("*").alias("n"))
    )


SETOP_MULTISET_ORACLE = """
WITH a AS (SELECT o_orderpriority AS v FROM orders WHERE o_orderstatus = 'O'),
     b AS (SELECT o_orderpriority AS v FROM orders WHERE o_orderstatus = 'F'),
ex AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
ix AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
SELECT 'except_all' AS op, v, count(*) AS n FROM ex GROUP BY 1, 2
UNION ALL
SELECT 'intersect_all' AS op, v, count(*) AS n FROM ix GROUP BY 1, 2
"""


def shuffle_hash_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy CONTROL demonstration: the same orders⋈customer
    aggregate forced onto ``SHUFFLE_HASH`` — the strategy that wins
    when the build side is too big to broadcast but small enough to
    hash per-task, avoiding sort-merge's two sorts.  Result is
    strategy-independent (the oracle certifies values); the physical
    plan is pinned by `tests/test_r4b_ops.py`, which asserts a
    ``ShuffledHashJoin`` node and value-equality with the unhinted
    plan.  At 100 TB, picking this per-join is the difference between
    a sort-spill and a straight hash probe."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c.hint("SHUFFLE_HASH"), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("revenue_e2"),
        )
    )


SHUFFLE_HASH_ORACLE = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_e2
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# ── Rollup / cube / grouping sets ────────────────────────────────────────

def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping() markers."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count("*").alias("n_rows"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       count(*) AS n_rows,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
            F.count("*").alias("n_orders"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
    )


CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 4) AS sum_price,
       count(*) AS n_orders,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ── Window functions ─────────────────────────────────────────────────────

def topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (deterministic tiebreak)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
      FROM orders)
WHERE rk <= 3
"""


def ranking_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in one pass — dense_rank,
    ntile, percent_rank, cume_dist over per-nation balance order.
    All share one window spec, so Catalyst evaluates them in a single
    Window node over a single shuffle.

    percent_rank/cume_dist are emitted as FLOORED parts-per-million:
    these are k/n rationals that terminate on decimal half-boundaries
    whenever the partition size has enough factors of 2 (e.g.
    41/640 = .0640625 at sf0.1), where Spark's HALF_UP round and
    DuckDB's binary round disagree — floor of the bit-identical
    quotient double is deterministic in both engines."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
        F.floor(F.percent_rank().over(w) * 1e6).alias("bal_pct_rank_ppm"),
        F.floor(F.cume_dist().over(w) * 1e6).alias("bal_cume_dist_ppm"),
    )


RANKING_ORACLE = """
SELECT c_custkey,
       CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(dense_rank() OVER w AS BIGINT) AS bal_dense_rank,
       CAST(ntile(4) OVER w AS INT) AS bal_quartile,
       CAST(floor(percent_rank() OVER w * 1e6) AS BIGINT) AS bal_pct_rank_ppm,
       CAST(floor(cume_dist() OVER w * 1e6) AS BIGINT) AS bal_cume_dist_ppm
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over order date (ROWS frame)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("cum_spend"),
    )


RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate ASC, o_orderkey ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
           AS cum_spend
FROM orders
"""


def lag_lead_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: days since a customer's previous order."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).alias("days_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


LAG_LEAD_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(date_diff('day',
            lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
            o_orderdate) AS INT) AS days_since_prev,
       lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
           AS next_orderkey
FROM orders
"""


# ── Scalar functions / JSON over events.props ────────────────────────────

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction + scalar string/math functions."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.upper("event_type").alias("event_type_uc"),
        F.round(F.sqrt(F.abs(F.col("value"))), 4).alias("sqrt_value"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("ts_hour"),
    )


EVENTS_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       upper(event_type) AS event_type_uc,
       round(sqrt(abs(value)), 4) AS sqrt_value,
       strftime(ts, '%Y-%m-%d %H') AS ts_hour
FROM events
"""


def exact_distinct_and_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts + exact median per event type.

    (The approx variants — approx_count_distinct / percentile_approx —
    are provided as a separate rows-only query since HLL/KLL sketches
    are engine-specific and cannot hash-match a DuckDB oracle.)

    The two aggregate families run as SEPARATE aggregations joined on
    the (5-row) group key — deliberately, and measured (round 8, idle
    host): percentile_disc is a TypedImperativeAggregate, and mixing
    it into one agg forces the WHOLE aggregation (countDistinct's
    two-phase distinct included) through ObjectHashAggregate instead
    of codegen'd HashAggregate — 0.68s combined vs 0.42s split
    (−38%) at sf0.1.  The join side is group-cardinality-sized, so
    at 100 TB this is two scan-parallel aggregations and a broadcast
    join of a handful of rows — strictly better than one de-optimized
    object agg over the corpus.
    """
    e = _t(spark, sf_dir, "events")
    fast = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    # discrete median: percentile_disc picks an actual data value, so
    # both engines return the same double bit-for-bit; the continuous
    # interpolated variant is cross-engine half-boundary bait
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "median_value"
        )
    )
    # null-safe equality (round-8 advice): event_type is nullable in
    # the schema, and a plain equi-join would silently drop a NULL
    # group that both single-aggregation semantics and the oracle's
    # GROUP BY keep — <=> keeps the join total over group keys
    med_k = med.withColumnRenamed("event_type", "event_type_m")
    return (
        fast.join(
            med_k, fast["event_type"].eqNullSafe(med_k["event_type_m"])
        )
        .select(
            "event_type", "n_users", "median_value", "min_value", "max_value"
        )
    )


DISTINCT_QUANTILE_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       quantile_disc(value, 0.5) AS median_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY event_type
"""


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts, status × priority (fixed pivot values)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0, ["O", "F", "P"])
        .select(
            "o_orderpriority",
            F.col("O").alias("n_open"),
            F.col("F").alias("n_filled"),
            F.col("P").alias("n_partial"),
        )
    )


PIVOT_ORACLE = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders
GROUP BY o_orderpriority
"""


def fx_ingest_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE reference, one certified result: both ingest
    pipelines (CSV trade histories → `historical_trades`, RSS feeds →
    `rss_trades`) plus the Excel registry (`account_metadata`) run
    end to end and reconcile into one per-account ledger — the query
    a reference user runs to confirm this engine ingests exactly
    what their two cron jobs ingest today.

    The conforming step is real reference behavior: CSV accounts are
    keyed by FILENAME (``acct_N``, `CSV PARSER/gcp_csv.py:79-80`)
    while RSS/registry accounts use the numeric registry id
    (`RSS PARSER/gcp_rss.py:24-28`) — the numeric suffix harmonizes
    the keyspace, and the FULL OUTER join preserves accounts present
    on only one side (flags, not silent drops).

    Scale shape: each source aggregates to per-account partials
    before the three-way join (accounts ≪ trades), so the join
    moves config-sized data; all heavy lifting stays in the
    already-certified stage pipelines."""
    from ..sources.fxblue_csv import s2_csv_ingest
    from ..sources.rss_feed import s4_account_metadata, s5_rss_trades_pipeline

    csv_agg = (
        s2_csv_ingest(spark, sf_dir)
        .select(
            F.regexp_extract("account_id", r"(\d+)$", 1).cast("long").alias("acct"),
            F.floor(F.col("pnl") * 1e4).cast("long").alias("pnl_e4"),
        )
        .groupBy("acct")
        .agg(
            F.count("*").alias("n_csv_trades"),
            F.sum("pnl_e4").cast("long").alias("csv_pnl_e4"),
        )
    )
    rss_agg = (
        s5_rss_trades_pipeline(spark, sf_dir)
        .select(
            F.col("account_id").cast("long").alias("acct"),
            F.floor(F.col("total_profit") * 1e4).cast("long").alias("profit_e4"),
        )
        .groupBy("acct")
        .agg(
            F.count("*").alias("n_rss_trades"),
            F.sum("profit_e4").cast("long").alias("rss_profit_e4"),
        )
    )
    meta = s4_account_metadata(spark, sf_dir).select(
        F.col("account_id").cast("long").alias("acct"),
        # presence flag must come from the ROW, not from a nullable
        # metric (a registry account with NULL trade_win is still in
        # the registry)
        F.lit(1).alias("reg_row"),
        F.floor(F.col("trade_win") * 1e6).cast("long").alias("trade_win_e6"),
    )
    j = (
        csv_agg.join(rss_agg, "acct", "full_outer")
        .join(meta, "acct", "full_outer")
    )
    return j.select(
        "acct",
        F.col("n_csv_trades").isNotNull().cast("int").alias("in_csv"),
        F.coalesce("n_csv_trades", F.lit(0)).cast("long").alias("n_csv_trades"),
        F.coalesce("csv_pnl_e4", F.lit(0)).cast("long").alias("csv_pnl_e4"),
        F.col("n_rss_trades").isNotNull().cast("int").alias("in_rss"),
        F.coalesce("n_rss_trades", F.lit(0)).cast("long").alias("n_rss_trades"),
        F.coalesce("rss_profit_e4", F.lit(0)).cast("long").alias("rss_profit_e4"),
        F.col("reg_row").isNotNull().cast("int").alias("in_registry"),
        F.coalesce("trade_win_e6", F.lit(0)).cast("long").alias("trade_win_e6"),
    )


def _fx_end_to_end_oracle() -> str:
    from ..sources.fxblue_csv import S2_ORACLE
    from ..sources.rss_feed import S4_ORACLE, S5_ORACLE

    return rf"""
WITH csv_src AS ({S2_ORACLE}),
rss_src AS ({S5_ORACLE}),
meta_src AS ({S4_ORACLE}),
csv_agg AS (
  SELECT CAST(regexp_extract(account_id, '(\d+)$', 1) AS BIGINT) AS acct,
         count(*) AS n_csv_trades,
         CAST(sum(CAST(floor(pnl * 10000) AS BIGINT)) AS BIGINT) AS csv_pnl_e4
  FROM csv_src GROUP BY 1),
rss_agg AS (
  SELECT CAST(account_id AS BIGINT) AS acct,
         count(*) AS n_rss_trades,
         CAST(sum(CAST(floor(total_profit * 10000) AS BIGINT)) AS BIGINT)
           AS rss_profit_e4
  FROM rss_src GROUP BY 1),
meta AS (
  SELECT CAST(account_id AS BIGINT) AS acct,
         CAST(floor(trade_win * 1000000) AS BIGINT) AS trade_win_e6
  FROM meta_src)
SELECT coalesce(c.acct, r.acct, m.acct) AS acct,
       CAST(c.acct IS NOT NULL AS INT) AS in_csv,
       coalesce(c.n_csv_trades, 0) AS n_csv_trades,
       coalesce(c.csv_pnl_e4, 0) AS csv_pnl_e4,
       CAST(r.acct IS NOT NULL AS INT) AS in_rss,
       coalesce(r.n_rss_trades, 0) AS n_rss_trades,
       coalesce(r.rss_profit_e4, 0) AS rss_profit_e4,
       CAST(m.acct IS NOT NULL AS INT) AS in_registry,
       coalesce(m.trade_win_e6, 0) AS trade_win_e6
FROM csv_agg c
FULL OUTER JOIN rss_agg r ON r.acct = c.acct
FULL OUTER JOIN meta m ON m.acct = coalesce(c.acct, r.acct)
"""


FX_END_TO_END_ORACLE = _fx_end_to_end_oracle()


QUERIES = {
    "flagship_account_pnl": flagship_account_pnl,
    "fx_ingest_end_to_end": fx_ingest_end_to_end,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "semi_customers_with_urgent": semi_customers_with_urgent,
    "anti_customers_no_orders": anti_customers_no_orders,
    "setop_active_nations": setop_active_nations,
    "setop_multiset_priorities": setop_multiset_priorities,
    "shuffle_hash_segment_revenue": shuffle_hash_segment_revenue,
    "rollup_returns": rollup_returns,
    "cube_order_status": cube_order_status,
    "topk_orders_per_customer": topk_orders_per_customer,
    "ranking_variants": ranking_variants,
    "running_customer_spend": running_customer_spend,
    "lag_lead_order_gaps": lag_lead_order_gaps,
    "events_json_extract": events_json_extract,
    "exact_distinct_and_quantiles": exact_distinct_and_quantiles,
    "pivot_status_by_priority": pivot_status_by_priority,
}

ORACLES = {
    "flagship_account_pnl": FLAGSHIP_ORACLE,
    "fx_ingest_end_to_end": FX_END_TO_END_ORACLE,
    "q1_pricing_summary": Q1_ORACLE,
    "q3_shipping_priority": Q3_ORACLE,
    "q5_region_revenue": Q5_ORACLE,
    "semi_customers_with_urgent": SEMI_ORACLE,
    "anti_customers_no_orders": ANTI_ORACLE,
    "setop_active_nations": SETOP_ORACLE,
    "setop_multiset_priorities": SETOP_MULTISET_ORACLE,
    "shuffle_hash_segment_revenue": SHUFFLE_HASH_ORACLE,
    "rollup_returns": ROLLUP_ORACLE,
    "cube_order_status": CUBE_ORACLE,
    "topk_orders_per_customer": TOPK_ORACLE,
    "ranking_variants": RANKING_ORACLE,
    "running_customer_spend": RUNNING_ORACLE,
    "lag_lead_order_gaps": LAG_LEAD_ORACLE,
    "events_json_extract": EVENTS_JSON_ORACLE,
    "exact_distinct_and_quantiles": DISTINCT_QUANTILE_ORACLE,
    "pivot_status_by_priority": PIVOT_ORACLE,
}
