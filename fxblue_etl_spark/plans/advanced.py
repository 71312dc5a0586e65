"""Advanced relational shapes (M4 widening): subqueries, grouping
sets, range frames, array/temporal analytics.

Complements `plans/relational.py` with the query shapes a user of the
produced tables reaches for next: correlated scalar subqueries,
EXISTS, explicit GROUPING SETS, time-RANGE window frames, array
higher-order aggregates over `embeddings.embedding`, and event-time
bucketing on `events` (the batch complement of the streaming
windows).

Scale notes: the correlated subquery and EXISTS forms decorrelate in
Catalyst to aggregate+join / left-semi — same physical shape as the
explicit versions, one key-shuffle each. The RANGE frame sorts within
`o_custkey` partitions only (no global sort). Array aggregates are
per-row (no shuffle at all until the final stats)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    table(spark, sf_dir, name).createOrReplaceTempView(name)


# ── TPC-H Q6 shape: selective filter + single agg (pushdown showcase) ────

def q6_selective_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 10)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n_rows"),
        )
    )


Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 10
"""


# ── correlated scalar subquery (decorrelates to agg + join) ──────────────

def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose price exceeds their customer's average — written
    as a correlated scalar subquery in SQL so Catalyst demonstrates
    decorrelation (RewriteCorrelatedScalarSubquery → agg + join)."""
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               round(o_totalprice, 4) AS o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.5 * (
            SELECT avg(o_totalprice) FROM orders i
            WHERE i.o_custkey = o.o_custkey)
        """
    )


SCALAR_SUBQ_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
FROM orders o
WHERE o_totalprice > 1.5 * (
    SELECT avg(o_totalprice) FROM orders i
    WHERE i.o_custkey = o.o_custkey)
"""


# ── EXISTS (plans as left-semi) ──────────────────────────────────────────

def exists_suppliers_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with at least one high-quantity discounted
    shipment — EXISTS form, planned as a left-semi join (no fact
    fan-out)."""
    _view(spark, sf_dir, "supplier")
    _view(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name, s_nationkey
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey
              AND l.l_quantity >= 45
              AND l.l_discount >= 0.08)
        """
    )


EXISTS_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey
      AND l.l_quantity >= 45
      AND l.l_discount >= 0.08)
"""


# ── explicit GROUPING SETS ───────────────────────────────────────────────

def grouping_sets_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with mixed granularities (finer than rollup/cube
    — exactly the requested sets, nothing more)."""
    _view(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_priority,
               count(*) AS n,
               round(sum(o_totalprice), 4) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority,
       count(*) AS n,
       round(sum(o_totalprice), 4) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


# ── time-RANGE window frame (interval-bounded rolling agg) ───────────────

def rolling_week_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 7-day order spend: RANGE frame over the
    event-time axis — the frame is value-bounded, not row-bounded, so
    gaps and bursts are handled correctly."""
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-6 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("spend_7d"),
        F.count("*").over(w).alias("n_orders_7d"),
    )


ROLLING_ORACLE = """
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(sum(o_totalprice) OVER w, 4) AS spend_7d,
       count(*) OVER w AS n_orders_7d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
"""


# ── array higher-order aggregates over embeddings ────────────────────────

def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm / mean / extremes via array HOFs — the
    vector hygiene pass (NaN/zero-norm detection) before any
    similarity join. Entirely per-row until the final projection."""
    e = table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x)
    s = F.aggregate(vec, F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq), 6).alias("l2_norm"),
        F.round(s / F.size("embedding"), 6).alias("mean_val"),
        F.round(F.array_max(vec), 6).alias("max_val"),
        F.round(F.array_min(vec), 6).alias("min_val"),
    )


EMB_NORM_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
                              (a, b) -> a + b)), 6) AS l2_norm,
       round(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                         (a, b) -> a + b) / len(embedding), 6) AS mean_val,
       round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_val,
       round(CAST(list_min(embedding) AS DOUBLE), 6) AS min_val
FROM embeddings
"""


# ── event-time bucketing (batch complement of streaming windows) ─────────

def hourly_event_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            # exact integer total: round(sum(double), 4) is partial-
            # agg-order-dependent in ulps (README rounding rule)
            F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("total_value_e4"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "n_users",
            "total_value_e4",
        )
    )


HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS total_value_e4
FROM events
GROUP BY 1, 2
"""


def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (`DataFrame.unpivot`, SQL UNPIVOT/melt): the
    four lineitem measures melted to (metric, val) rows, then one agg
    per metric. Unpivot is a row-local Generate — no shuffle is added
    beyond the final 4-group aggregation, and column pruning still
    reaches the scan (only the four measure columns are read)."""
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    )
    long = li.unpivot(
        [], ["quantity", "extendedprice", "discount", "tax"], "metric", "val"
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"),
        F.round(F.sum("val"), 4).alias("total"),
        F.round(F.min("val"), 4).alias("lo"),
        F.round(F.max("val"), 4).alias("hi"),
    )


UNPIVOT_ORACLE = """
WITH long AS (
  SELECT 'quantity' AS metric, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'discount', l_discount FROM lineitem
  UNION ALL SELECT 'tax', l_tax FROM lineitem)
SELECT metric, count(*) AS n, round(sum(val), 4) AS total,
       round(min(val), 4) AS lo, round(max(val), 4) AS hi
FROM long
GROUP BY 1
"""


def winsorized_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust aggregation: winsorize o_totalprice to its
    per-group [P1, P99] before summing. Two passes — the per-group
    percentile aggregate is 5 rows, broadcast back onto the fact scan;
    the clip is a row-local least/greatest. `percentile_disc` (an
    actual order statistic, not interpolated `percentile_cont`) is
    chosen deliberately: both engines return an exact data value, so
    there is no interpolation-formula float divergence."""
    o = table(spark, sf_dir, "orders")
    pct = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.01) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p01"),
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("p99"),
    )
    j = o.join(F.broadcast(pct), "o_orderpriority")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("o_totalprice") < F.col("p01"), 1)).alias("n_clip_low"),
        F.count(F.when(F.col("o_totalprice") > F.col("p99"), 1)).alias("n_clip_high"),
        F.min("p01").alias("p01"),
        F.min("p99").alias("p99"),
        F.round(F.sum(clipped), 4).alias("winsorized_sum"),
    )


WINSORIZED_ORACLE = """
WITH pct AS (
  SELECT o_orderpriority,
         quantile_disc(o_totalprice, 0.01) AS p01,
         quantile_disc(o_totalprice, 0.99) AS p99
  FROM orders GROUP BY 1)
SELECT o.o_orderpriority,
       count(*) AS n,
       count(*) FILTER (o_totalprice < p01) AS n_clip_low,
       count(*) FILTER (o_totalprice > p99) AS n_clip_high,
       min(p01) AS p01,
       min(p99) AS p99,
       round(sum(least(greatest(o_totalprice, p01), p99)), 4) AS winsorized_sum
FROM orders o JOIN pct USING (o_orderpriority)
GROUP BY 1
"""


#: MAD outlier threshold multiplier
MAD_K = 10


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per group — the
    robust-statistics sibling of ``winsorized_totalprice``. Two
    aggregate passes (median, then median of |x - median|), each a
    tiny per-group frame broadcast back onto the fact scan. Both
    statistics are `percentile_disc` order statistics (actual data
    values), and the deviation is |a - b| of exact doubles, so the
    whole contract is float-divergence-free except the final
    deterministic comparison."""
    o = table(spark, sf_dir, "orders")
    med = o.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("med")
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("o_totalprice") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "o_orderpriority")
    return flagged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.count(
            F.when(F.col("adev") > MAD_K * F.col("mad"), 1)
        ).alias("n_outliers"),
    )


MAD_ORACLE = f"""
WITH med AS (
  SELECT o_orderpriority, quantile_disc(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1),
dev AS (
  SELECT o.o_orderpriority, abs(o_totalprice - med) AS adev
  FROM orders o JOIN med USING (o_orderpriority)),
mad AS (
  SELECT o_orderpriority, quantile_disc(adev, 0.5) AS mad
  FROM dev GROUP BY 1)
SELECT d.o_orderpriority,
       count(*) AS n,
       min(m.med) AS med,
       min(a.mad) AS mad,
       count(*) FILTER (d.adev > {MAD_K} * a.mad) AS n_outliers
FROM dev d
JOIN med m USING (o_orderpriority)
JOIN mad a USING (o_orderpriority)
GROUP BY 1
"""


def regression_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in bivariate statistics (regr_slope / regr_intercept /
    corr) per group — single-pass JVM aggregates, no Python. Both
    engines implement the same covariance-over-variance formulas;
    outputs are continuous statistics (not decimal-terminating
    quotients), so round() is stable here — verified identical at
    sf0.01 and sf0.1."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
    )


REGR_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_pq
FROM lineitem
GROUP BY 1
"""


def variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    parse_json once, typed variant_get extraction — the open-format
    answer to schema-on-read JSON at scale (parse cost paid once per
    row, extraction is binary-encoded field access, and the whole
    pipeline stays in codegen). Compare `events_json_extract`, which
    uses per-path string parsing (get_json_object)."""
    e = table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


VARIANT_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
       min(CAST(props->>'$.k' AS INT)) AS k_min,
       max(CAST(props->>'$.k' AS INT)) AS k_max
FROM events
GROUP BY 1
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: clicks that convert to a purchase by the same
    user within one hour, rolled up by click hour-of-day. The
    conversion test is a LEFT SEMI join on user_id with a time-range
    residual — one hash shuffle on the (bounded-cardinality) user key,
    never a time-range cross product; the same shape as the streaming
    interval join but in batch. Conversion rate is a k/n integer
    quotient emitted as DIV ppm (README rounding rule)."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    converted = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["user_id"])
        & (purchases["p_ts"] >= clicks["c_ts"])
        & (purchases["p_ts"] <= clicks["c_ts"] + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    ).select(F.hour("c_ts").alias("click_hour"), F.lit(1).alias("conv"))
    all_clicks = clicks.select(F.hour("c_ts").alias("click_hour"))
    n_all = all_clicks.groupBy("click_hour").agg(F.count("*").alias("n_clicks"))
    n_conv = converted.groupBy("click_hour").agg(
        F.count("*").alias("n_converted")
    )
    return (
        n_all.join(n_conv, "click_hour", "left")
        .withColumn("n_converted", F.coalesce(F.col("n_converted"), F.lit(0)))
        .withColumn(
            "conv_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_converted"
                " DIV n_clicks AS BIGINT)"
            ),
        )
    )


FUNNEL_ORACLE = """
WITH c AS (
  SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
conv AS (
  SELECT c.user_id, c.ts FROM c
  WHERE EXISTS (SELECT 1 FROM p
                WHERE p.user_id = c.user_id
                  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)),
n_all AS (
  SELECT hour(ts) AS click_hour, count(*) AS n_clicks FROM c GROUP BY 1),
n_conv AS (
  SELECT hour(ts) AS click_hour, count(*) AS n_converted FROM conv GROUP BY 1)
SELECT a.click_hour, a.n_clicks,
       coalesce(v.n_converted, 0) AS n_converted,
       CAST(CAST(1000000 AS HUGEINT) * coalesce(v.n_converted, 0) // a.n_clicks AS BIGINT) AS conv_ppm
FROM n_all a LEFT JOIN n_conv v USING (click_hour)
"""


def value_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete p50/p90/p99 bands per event type. percentile_disc
    picks an actual data value, so both engines return the identical
    double bit-for-bit (the continuous interpolated variant is
    cross-engine half-boundary bait — see exact_distinct_and_quantiles).
    One partial-aggregable shuffle; group count = type vocabulary."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("p99"),
    )


PERCENTILE_BANDS_ORACLE = """
SELECT event_type,
       count(*) AS n,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99
FROM events
GROUP BY 1
"""


# ── LATERAL correlated subquery (Spark 4 / DuckDB parity) ────────────────

def lateral_topk_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by account balance per nation, written as a
    correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-2016
    lateral-join surface Catalyst rewrites to a ranked window under
    the hood (`RewriteLateralSubquery`). Exact integer balances; ties
    broken on custkey so both engines rank identically.

    Scale: decorrelates to one shuffle on nationkey; the per-nation
    rank partitions are population-bounded."""
    _view(spark, sf_dir, "nation")
    _view(spark, sf_dir, "customer")
    return spark.sql(LATERAL_TOPK_SQL)


#: identical text runs on both engines — the whole point
LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_custkey, t.bal_e2
FROM nation n,
LATERAL (SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_e2
         FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey ASC
         LIMIT 2) t
"""

LATERAL_TOPK_ORACLE = LATERAL_TOPK_SQL


# ── WITH RECURSIVE transitive closure on the near-dup pair graph ─────────

#: hop cap for the recursive closure (strictly-increasing hops ⇒ the
#: recursion terminates regardless of cycles)
RCTE_MAX_HOPS = 3


def recursive_dup_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure of the MinHash/LSH near-dup graph
    via WITH RECURSIVE (Spark 4's recursive-CTE surface): which
    document pairs are ≤ 3 near-dup hops apart, and at what minimum
    distance — the "how contagious is a duplicate" readout that
    `dedup_components` collapses to a single component id.

    Scale: recursion runs on the PAIR GRAPH (LSH survivors), never
    the corpus — the same posture as every graph op here; the hop cap
    bounds both the iteration count and path multiplicity.

    Cross-certification: every reachable pair must share a connected
    component (`tests/test_r4b_ops.py`)."""
    from ..io import checkpoint, fan_out
    from ..operators.dedup import lsh_jaccard_pairs

    # fan_out: the minhash HOFs are per-row-heavy and a small scan is
    # one split — without it the whole LSH pass serializes on one task
    d = fan_out(table(spark, sf_dir, "documents"))
    # materialize the (tiny) pair graph ONCE: the recursion references
    # its edge relation every superstep, and re-deriving the whole
    # LSH pipeline per step would dominate the closure by orders of
    # magnitude
    # pair graph ≪ corpus: collapse to one partition so every
    # superstep's join is a single tiny task instead of 32 empty
    # ones. repartition (a shuffle boundary), NOT coalesce — coalesce
    # would pull the whole upstream LSH pipeline into that one task
    edges = checkpoint(
        spark,
        "advanced.rcte_edges",
        lambda: lsh_jaccard_pairs(d).select("doc_a", "doc_b").repartition(1),
    )
    edges.createOrReplaceTempView("dup_edges_rcte")
    return spark.sql(_RCTE_SQL("dup_edges_rcte"))


def _RCTE_SQL(edges: str) -> str:
    """The recursive-closure SQL over an (doc_a, doc_b) edge relation
    — same text both engines modulo the edge-relation name."""
    return f"""
WITH RECURSIVE reach(root, node, hops) AS (
  SELECT doc_a AS root, doc_a AS node, 0 AS hops FROM {edges}
  UNION
  SELECT doc_b, doc_b, 0 FROM {edges}
  UNION ALL
  SELECT r.root, e.dst, r.hops + 1
  FROM reach r JOIN (SELECT doc_a AS src, doc_b AS dst FROM {edges}
                     UNION ALL SELECT doc_b, doc_a FROM {edges}) e
    ON e.src = r.node
  WHERE r.hops < {RCTE_MAX_HOPS}
)
SELECT root, node AS reached, CAST(min(hops) AS INT) AS min_hops
FROM reach WHERE root < node GROUP BY 1, 2
"""


def _rcte_oracle() -> str:
    from ..operators.dedup import CAND_PAIRS_SQL

    # DuckDB: hoist the LSH candidate chain into the same WITH
    # RECURSIVE block, then close over `cand` as the edge relation
    lsh_with = CAND_PAIRS_SQL.replace("WITH norm", "WITH RECURSIVE norm", 1)
    # MATERIALIZED: the recursion references `cand` every iteration;
    # without it DuckDB re-runs the whole minhash chain per superstep
    lsh_with = lsh_with.replace("cand AS (", "cand AS MATERIALIZED (", 1)
    body = _RCTE_SQL("cand")
    # strip the inner "WITH RECURSIVE" header and splice its CTE into
    # the existing chain
    body = body.replace("WITH RECURSIVE reach", ", reach", 1)
    return lsh_with + body


RECURSIVE_DUP_ORACLE = _rcte_oracle()


def collated_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 ``COLLATE UTF8_LCASE``):
    part types get deterministic mixed casing (lowercased for even
    part keys), then group case-insensitively — the collation engine
    must merge both case variants into one group without any
    ``lower()`` rewrite in user code.

    The emitted group key is ``min(raw)`` (binary min over the
    variants, deterministic in both engines) rather than the collated
    key itself, whose surfaced representative is
    partition-order-dependent; ``n_variants`` certifies that ≥2
    casings really landed in one group.  The oracle has no collation
    support and groups by ``lower()`` — identical partitioning of the
    rows by construction.

    Scale shape: one map-side-combined aggregate; collation
    comparisons stay inside codegen."""
    p = table(spark, sf_dir, "part")
    raw = F.when(F.col("p_partkey") % 2 == 0, F.lower("p_type")).otherwise(
        F.col("p_type")
    )
    return (
        p.select(raw.alias("raw_type"), "p_retailprice")
        .select(
            F.expr("raw_type COLLATE UTF8_LCASE").alias("type_ci"),
            "raw_type",
            "p_retailprice",
        )
        .groupBy("type_ci")
        .agg(
            F.min("raw_type").alias("type_variant_min"),
            F.countDistinct("raw_type").alias("n_variants"),
            F.count("*").alias("n_parts"),
            F.sum(F.floor(F.col("p_retailprice") * 100)).cast("long").alias("price_cents"),
        )
        .select("type_variant_min", "n_variants", "n_parts", "price_cents")
    )


COLLATED_GROUP_ORACLE = """
WITH src AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END AS raw_type,
         p_retailprice
  FROM part)
SELECT min(raw_type) AS type_variant_min,
       CAST(count(DISTINCT raw_type) AS BIGINT) AS n_variants,
       count(*) AS n_parts,
       CAST(sum(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM src
GROUP BY lower(raw_type)
"""


def parameterized_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL — ``spark.sql(query, args=...)`` with a
    named literal parameter AND an ``IDENTIFIER(:tab)`` table
    reference: the injection-safe query-template surface (SQL
    literals bind as foldable constants, identifiers resolve through
    the parser, user input never concatenates into SQL text).

    The parameter is a priority *prefix bound* (`<= '3-MEDIUM'`
    keeps urgencies 1–3), so constant folding + pushdown still apply:
    the bound literal lands in the scan's PushedFilters exactly like
    a hand-written constant.

    Reference parity: the reference interpolates its table names and
    VALUES directly into SQL strings via psycopg2 placeholders
    (`CSV PARSER/gcp_csv.py:159-193`); this is the engine-side
    equivalent contract."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("fx_orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS price_cents
        FROM IDENTIFIER(:tab)
        WHERE o_orderpriority <= :max_priority
        GROUP BY o_orderpriority, o_orderstatus
        """,
        args={"tab": "fx_orders_v", "max_priority": "3-MEDIUM"},
    )


PARAMETERIZED_SQL_ORACLE = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders
WHERE o_orderpriority <= '3-MEDIUM'
GROUP BY o_orderpriority, o_orderstatus
"""


def argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-free per-group argmax: each customer's single largest
    order via ``max_by`` over a totally ordered struct — ONE
    aggregate instead of the row_number window
    (`topk_orders_per_customer`).  For top-1 this is the plan you
    want at 100 TB: partial aggregation reduces each partition to one
    candidate per customer BEFORE the exchange (the window must move
    and rank every row of every group).  The struct comparison key
    forces SortAggregate (struct buffers aren't hash-aggregable), but
    that sort is on the grouping key only — never a per-group
    (price, key) ordering, and no window state.

    Determinism: the comparison key is the struct
    ``(o_totalprice_e2, o_orderkey)`` — integer cents then key — so
    ties cannot exist (orderkey is unique) and both engines pick the
    same row.  A packed single-integer key would re-enable
    HashAggregate but caps orderkey at the radix — the exact
    collision family the round-3 advice flagged; the struct is the
    scale-safe form.  ``min_by`` on the same struct gives the
    smallest order for a spread metric."""
    o = table(spark, sf_dir, "orders")
    price_e2 = F.floor(F.col("o_totalprice") * 100).cast("long")
    key = F.struct(price_e2.alias("p"), F.col("o_orderkey").alias("k"))
    return (
        o.select("o_custkey", "o_orderkey", price_e2.alias("p_e2"), key.alias("kk"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("max_by(o_orderkey, kk)").alias("best_orderkey"),
            F.max("p_e2").alias("best_price_e2"),
            F.expr("min_by(o_orderkey, kk)").alias("worst_orderkey"),
            (F.max("p_e2") - F.min("p_e2")).alias("spread_e2"),
        )
    )


ARGMAX_ORDER_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS p_e2
  FROM orders),
r AS (
  -- this DuckDB's arg_max has no struct-key overload; two windows
  -- restate the identical (p_e2, o_orderkey) lexicographic choice
  SELECT *,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY p_e2 DESC, o_orderkey DESC) AS rn_max,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY p_e2 ASC, o_orderkey ASC) AS rn_min
  FROM o)
SELECT o_custkey,
       count(*) AS n_orders,
       CAST(max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS BIGINT) AS best_orderkey,
       max(p_e2) AS best_price_e2,
       CAST(max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS BIGINT) AS worst_orderkey,
       max(p_e2) - min(p_e2) AS spread_e2
FROM r
GROUP BY 1
"""


def map_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-customer status→count maps built with
    ``map_from_entries`` over sorted collect_list entries, then
    consumed with map lookups (``element_at``), ``map_keys``, and a
    ``map_filter`` — the engine path a feature-store column of typed
    key-value pairs exercises.

    The map itself never leaves the engine (map cells are unhashable
    in any pandas-based canonicalizer — the round-3
    ``embedding_quantize`` lesson, applied at design time): the query
    emits only scalar projections of the map, which also makes the
    oracle a plain conditional aggregation.

    Determinism: entries are assembled from a pre-aggregated
    (status, count) list sorted by status, so map iteration order is
    fixed in both the build and the ``map_keys`` projection."""
    o = table(spark, sf_dir, "orders")
    per_status = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    entries = per_status.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("m")
    )
    return entries.select(
        "o_custkey",
        F.size("m").alias("n_statuses"),
        F.concat_ws(",", F.map_keys("m")).alias("statuses_csv"),
        F.coalesce(F.element_at("m", "F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.element_at("m", "O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.element_at("m", "P"), F.lit(0)).cast("long").alias("n_p"),
        F.size(F.map_filter("m", lambda k, v: v >= 2)).alias("n_repeat_statuses"),
    )


MAP_COLUMN_ORACLE = """
WITH per_status AS (
  SELECT o_custkey, o_orderstatus, count(*) AS n
  FROM orders GROUP BY 1, 2)
SELECT o_custkey,
       CAST(count(*) AS INT) AS n_statuses,
       string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses_csv,
       CAST(coalesce(max(CASE WHEN o_orderstatus = 'F' THEN n END), 0) AS BIGINT) AS n_f,
       CAST(coalesce(max(CASE WHEN o_orderstatus = 'O' THEN n END), 0) AS BIGINT) AS n_o,
       CAST(coalesce(max(CASE WHEN o_orderstatus = 'P' THEN n END), 0) AS BIGINT) AS n_p,
       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS INT) AS n_repeat_statuses
FROM per_status
GROUP BY 1
"""


def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``from_xml``: orders serialized to XML fragments
    (attribute + nested element), parsed back with a typed schema
    (attributes surface under the ``_`` prefix), and aggregated —
    the oracle computes the same totals from the base columns, so a
    dropped attribute, an entity-escape bug, or a mis-typed nested
    element diverges in counts or sums.

    The XML path matters for the ingest story: half the world's
    B2B feeds (and RSS itself — the reference's second source,
    `RSS PARSER/gcp_rss.py:83`) are XML; this certifies the typed
    extraction path end to end without a network fetch."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    xml = F.concat(
        F.lit('<o id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('" st="'),
        F.col("o_orderstatus"),
        F.lit('"><p>'),
        cents.cast("string"),
        F.lit("</p></o>"),
    )
    parsed = o.select(xml.alias("x")).select(
        F.expr("from_xml(x, '_id BIGINT, _st STRING, p BIGINT')").alias("r")
    )
    return parsed.groupBy(F.col("r._st").alias("status")).agg(
        F.count("*").alias("n_orders"),
        F.sum("r.p").cast("long").alias("price_cents"),
        F.min("r._id").alias("min_orderkey"),
        F.max("r._id").alias("max_orderkey"),
    )


XML_ROUNDTRIP_ORACLE = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       min(o_orderkey) AS min_orderkey,
       max(o_orderkey) AS max_orderkey
FROM orders
GROUP BY 1
"""


def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN / NOT EXISTS null trap, certified: when the
    subquery's value set contains a single NULL, ANSI three-valued
    logic makes every ``x NOT IN (...)`` predicate UNKNOWN — zero
    rows survive — while the NOT EXISTS anti-join still returns the
    true complement.  A NULL is injected into the order-customer set
    deterministically (one order's custkey nulled), and both counts
    are emitted side by side with the clean-subquery NOT IN count.

    This is the semantics a user migrating hand-written SQL onto the
    engine trips over first; certifying both engines implement the
    same standard behavior is the point (any engine 'helpfully'
    filtering the NULL would diverge)."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("nn_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("nn_orders")
    return spark.sql(
        """
        WITH probed AS (
          -- keep only a third of the orders so the customer
          -- complement is NON-empty (the fixture covers every
          -- customer with at least one order), and null one value
          SELECT CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM nn_orders
                                         WHERE o_orderkey % 3 = 0)
                      THEN NULL ELSE o_custkey END AS ck
          FROM nn_orders WHERE o_orderkey % 3 = 0)
        SELECT
          (SELECT count(*) FROM nn_customer) AS n_customers,
          (SELECT count(*) FROM nn_customer
            WHERE c_custkey NOT IN (SELECT ck FROM probed)) AS n_not_in_nullset,
          (SELECT count(*) FROM nn_customer c
            WHERE NOT EXISTS (SELECT 1 FROM probed p WHERE p.ck = c.c_custkey))
            AS n_not_exists,
          (SELECT count(*) FROM nn_customer
            WHERE c_custkey NOT IN (SELECT ck FROM probed WHERE ck IS NOT NULL))
            AS n_not_in_clean
        """
    )


NOT_IN_NULL_ORACLE = """
WITH probed AS (
  SELECT CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders
                                 WHERE o_orderkey % 3 = 0)
              THEN NULL ELSE o_custkey END AS ck
  FROM orders WHERE o_orderkey % 3 = 0)
SELECT
  (SELECT count(*) FROM customer) AS n_customers,
  (SELECT count(*) FROM customer
    WHERE c_custkey NOT IN (SELECT ck FROM probed)) AS n_not_in_nullset,
  (SELECT count(*) FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM probed p WHERE p.ck = c.c_custkey))
    AS n_not_exists,
  (SELECT count(*) FROM customer
    WHERE c_custkey NOT IN (SELECT ck FROM probed WHERE ck IS NOT NULL))
    AS n_not_in_clean
"""


def integer_division_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-operand integer arithmetic, certified cross-engine:
    ``%`` follows the dividend's sign and ``div`` truncates toward
    zero in BOTH Spark and DuckDB (while ``floor(a/b)`` rounds toward
    −∞ — differing once operands go negative).  Every exact-integer
    quotient in this repo leans on these rules; this operator pins
    them on a signed value grid derived from customer keys instead of
    leaving them as an implicit assumption.

    Emits per signed probe value a: a mod 7, pmod(a,7) (the
    always-non-negative variant — rederived in the oracle as
    ``((a%7)+7)%7``), truncating div, and flooring div, aggregated to
    one row per (sign, congruence-class) bucket."""
    c = table(spark, sf_dir, "customer")
    a = (F.col("c_custkey") % 100 - 50).cast("long")
    return (
        c.select(a.alias("a"))
        .select(
            "a",
            (F.col("a") % 7).alias("m"),
            F.pmod(F.col("a"), F.lit(7)).alias("pm"),
            F.expr("a div 7").alias("d_trunc"),
            F.floor(F.col("a") / 7).cast("long").alias("d_floor"),
        )
        .groupBy((F.col("a") < 0).cast("int").alias("negative"), "m")
        .agg(
            F.count("*").alias("n"),
            F.min("pm").alias("pm_min"),
            F.max("pm").alias("pm_max"),
            F.sum("d_trunc").cast("long").alias("d_trunc_sum"),
            F.sum("d_floor").cast("long").alias("d_floor_sum"),
        )
    )


INT_DIV_ORACLE = """
WITH probe AS (
  SELECT CAST(c_custkey % 100 - 50 AS BIGINT) AS a FROM customer),
x AS (
  SELECT a, a % 7 AS m, ((a % 7) + 7) % 7 AS pm,
         a // 7 AS d_trunc,
         CAST(floor(CAST(a AS DOUBLE) / 7) AS BIGINT) AS d_floor
  FROM probe)
SELECT CAST(CASE WHEN a < 0 THEN 1 ELSE 0 END AS INT) AS negative, m,
       count(*) AS n,
       CAST(min(pm) AS BIGINT) AS pm_min,
       CAST(max(pm) AS BIGINT) AS pm_max,
       CAST(sum(d_trunc) AS BIGINT) AS d_trunc_sum,
       CAST(sum(d_floor) AS BIGINT) AS d_floor_sum
FROM x
GROUP BY 1, 2
"""


def null_ordering_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL placement in ORDER BY, certified cross-engine — the
    portability trap the division/NOT-IN/try_ probes' siblings cover
    for arithmetic and predicates: Spark's DEFAULT for ``ASC`` is
    NULLS FIRST while DuckDB's is NULLS LAST, so any window or sort
    over a nullable key that omits the modifier silently diverges
    between engines.  Every ranking in this repo therefore either
    orders by non-nullable keys or states the placement; this probe
    pins the EXPLICIT forms as bit-portable and quantifies the trap.

    Per order-status bucket over a nullable derived key
    (``nullif(o_custkey % 7, 3)``): row count, null count, the count
    of null-key rows inside the first n_null positions under ``ASC
    NULLS FIRST`` (must equal n_null) and inside the last n_null
    positions under ``ASC NULLS LAST`` (ditto), plus full-ordering
    checksums ``sum(rank · coalesce(key,-1))`` for both placements —
    a checksum mismatch catches ANY permutation difference, not just
    misplaced nulls.  One window pass per placement over the same
    sort key; entirely map-side aggregable after ranking."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderstatus",
        "o_orderkey",
        F.expr("nullif(o_custkey % 7, 3)").cast("long").alias("k"),
    )
    wp = Window.partitionBy("o_orderstatus")
    ranked = base.select(
        "o_orderstatus",
        "k",
        F.expr(
            "row_number() OVER (PARTITION BY o_orderstatus"
            " ORDER BY k ASC NULLS FIRST, o_orderkey)"
        ).alias("rn_first"),
        F.expr(
            "row_number() OVER (PARTITION BY o_orderstatus"
            " ORDER BY k ASC NULLS LAST, o_orderkey)"
        ).alias("rn_last"),
    ).select(
        "*",
        F.count("*").over(wp).alias("n_all"),
        F.sum(F.col("k").isNull().cast("long")).over(wp).alias("n_null"),
    )
    return (
        ranked.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("k").isNull().cast("long"))
            .cast("long")
            .alias("n_nulls"),
            F.sum(
                (
                    F.col("k").isNull()
                    & (F.col("rn_first") <= F.col("n_null"))
                ).cast("long")
            )
            .cast("long")
            .alias("nulls_at_head_first"),
            F.sum(
                (
                    F.col("k").isNull()
                    & (F.col("rn_last") > F.col("n_all") - F.col("n_null"))
                ).cast("long")
            )
            .cast("long")
            .alias("nulls_at_tail_last"),
            F.sum(F.col("rn_first") * F.coalesce(F.col("k"), F.lit(-1)))
            .cast("long")
            .alias("first_checksum"),
            F.sum(F.col("rn_last") * F.coalesce(F.col("k"), F.lit(-1)))
            .cast("long")
            .alias("last_checksum"),
        )
        .withColumn(
            "placement_exact",
            (
                (F.col("nulls_at_head_first") == F.col("n_nulls"))
                & (F.col("nulls_at_tail_last") == F.col("n_nulls"))
            ).cast("int"),
        )
    )


NULL_ORDERING_ORACLE = """
WITH base AS (
  SELECT o_orderstatus, o_orderkey,
         CAST(nullif(o_custkey % 7, 3) AS BIGINT) AS k
  FROM orders),
ranked AS (
  SELECT o_orderstatus, k,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY k ASC NULLS FIRST, o_orderkey) AS rn_first,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY k ASC NULLS LAST, o_orderkey) AS rn_last,
         count(*) OVER (PARTITION BY o_orderstatus) AS n_all,
         sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY o_orderstatus) AS n_null
  FROM base)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(sum(CASE WHEN k IS NULL AND rn_first <= n_null
                     THEN 1 ELSE 0 END) AS BIGINT) AS nulls_at_head_first,
       CAST(sum(CASE WHEN k IS NULL AND rn_last > n_all - n_null
                     THEN 1 ELSE 0 END) AS BIGINT) AS nulls_at_tail_last,
       CAST(sum(rn_first * coalesce(k, -1)) AS BIGINT) AS first_checksum,
       CAST(sum(rn_last * coalesce(k, -1)) AS BIGINT) AS last_checksum,
       CAST(CASE WHEN sum(CASE WHEN k IS NULL AND rn_first <= n_null
                              THEN 1 ELSE 0 END)
                    = sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                 AND sum(CASE WHEN k IS NULL AND rn_last > n_all - n_null
                              THEN 1 ELSE 0 END)
                    = sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
            THEN 1 ELSE 0 END AS INT) AS placement_exact
FROM ranked
GROUP BY 1
"""


def window_frame_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME semantics over tied order keys, certified
    cross-engine — the companion to ``null_ordering_semantics`` for
    the other silent window trap: with a tied ORDER BY key the ANSI
    default frame is RANGE UNBOUNDED PRECEDING → CURRENT ROW, which
    includes ALL PEERS of the current key (both engines agree — this
    probe certifies that agreement), while a ROWS frame over ties is
    nondeterministic unless the ordering is total.  Every portable
    spelling is therefore one of: default/RANGE over the tied key
    (tie-safe), or ROWS over a TOTAL order — both pinned here, plus
    the classic ``last_value`` trap (under the default frame it
    returns the current peer-group row, not the partition's last;
    the full-frame spelling is the intended one).

    Per user over day-tied event timestamps: row count, the peer-
    inclusive running-sum checksum (default frame), the ROWS running-
    sum checksum over the (day, event_id) total order, the count of
    rows where default-frame last_value equals the current row
    (== n_rows when the order is total — the trap quantified), and
    the full-frame last value.  All integer; windows partition on
    user_id (thousands of keys — no concentration)."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        F.expr("CAST(ts AS DATE)").alias("d"),
        F.expr("CAST(floor(value * 10000) AS BIGINT)").alias("v"),
    )
    w = base.select(
        "user_id",
        "v",
        F.expr(
            "sum(v) OVER (PARTITION BY user_id ORDER BY d)"
        ).alias("s_range"),
        F.expr(
            "sum(v) OVER (PARTITION BY user_id ORDER BY d, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ).alias("s_rows"),
        F.expr(
            "last_value(v) OVER (PARTITION BY user_id"
            " ORDER BY d, event_id)"
        ).alias("lv_default"),
        F.expr(
            "last_value(v) OVER (PARTITION BY user_id"
            " ORDER BY d, event_id"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        ).alias("lv_full"),
    )
    return w.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("s_range").cast("long").alias("peer_sum_checksum"),
        F.sum("s_rows").cast("long").alias("rows_sum_checksum"),
        F.sum((F.col("lv_default") == F.col("v")).cast("long"))
        .cast("long")
        .alias("n_lastval_is_current"),
        F.max("lv_full").alias("last_v_full"),
        F.min("lv_full").alias("last_v_full_min"),
    )


WINDOW_FRAME_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, CAST(ts AS DATE) AS d,
         CAST(floor(value * 10000) AS BIGINT) AS v
  FROM events),
w AS (
  SELECT user_id, v,
         sum(v) OVER (PARTITION BY user_id ORDER BY d) AS s_range,
         sum(v) OVER (PARTITION BY user_id ORDER BY d, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s_rows,
         last_value(v) OVER (PARTITION BY user_id ORDER BY d, event_id)
           AS lv_default,
         last_value(v) OVER (PARTITION BY user_id ORDER BY d, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND UNBOUNDED FOLLOWING) AS lv_full
  FROM base)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(s_range) AS BIGINT) AS peer_sum_checksum,
       CAST(sum(s_rows) AS BIGINT) AS rows_sum_checksum,
       CAST(sum(CASE WHEN lv_default = v THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lastval_is_current,
       CAST(max(lv_full) AS BIGINT) AS last_v_full,
       CAST(min(lv_full) AS BIGINT) AS last_v_full_min
FROM w
GROUP BY user_id
"""


QUERIES = {
    "window_frame_semantics": window_frame_semantics,
    "unpivot_lineitem_metrics": unpivot_lineitem_metrics,
    "winsorized_totalprice": winsorized_totalprice,
    "mad_outliers": mad_outliers,
    "regression_analytics": regression_analytics,
    "variant_json_shred": variant_json_shred,
    "funnel_conversion": funnel_conversion,
    "q6_selective_agg": q6_selective_agg,
    "scalar_subquery_above_avg": scalar_subquery_above_avg,
    "exists_suppliers_shipping": exists_suppliers_shipping,
    "grouping_sets_status": grouping_sets_status,
    "rolling_week_spend": rolling_week_spend,
    "embedding_norm_stats": embedding_norm_stats,
    "hourly_event_load": hourly_event_load,
    "value_percentile_bands": value_percentile_bands,
    "lateral_topk_per_nation": lateral_topk_per_nation,
    "recursive_dup_reachability": recursive_dup_reachability,
    "collated_group_counts": collated_group_counts,
    "parameterized_sql_orders": parameterized_sql_orders,
    "argmax_order_per_customer": argmax_order_per_customer,
    "map_column_stats": map_column_stats,
    "xml_roundtrip_extract": xml_roundtrip_extract,
    "not_in_null_semantics": not_in_null_semantics,
    "integer_division_semantics": integer_division_semantics,
    "null_ordering_semantics": null_ordering_semantics,
}

ORACLES = {
    "window_frame_semantics": WINDOW_FRAME_ORACLE,
    "unpivot_lineitem_metrics": UNPIVOT_ORACLE,
    "winsorized_totalprice": WINSORIZED_ORACLE,
    "mad_outliers": MAD_ORACLE,
    "regression_analytics": REGR_ORACLE,
    "variant_json_shred": VARIANT_ORACLE,
    "funnel_conversion": FUNNEL_ORACLE,
    "q6_selective_agg": Q6_ORACLE,
    "scalar_subquery_above_avg": SCALAR_SUBQ_ORACLE,
    "exists_suppliers_shipping": EXISTS_ORACLE,
    "grouping_sets_status": GROUPING_SETS_ORACLE,
    "rolling_week_spend": ROLLING_ORACLE,
    "embedding_norm_stats": EMB_NORM_ORACLE,
    "hourly_event_load": HOURLY_ORACLE,
    "value_percentile_bands": PERCENTILE_BANDS_ORACLE,
    "lateral_topk_per_nation": LATERAL_TOPK_ORACLE,
    "recursive_dup_reachability": RECURSIVE_DUP_ORACLE,
    "collated_group_counts": COLLATED_GROUP_ORACLE,
    "parameterized_sql_orders": PARAMETERIZED_SQL_ORACLE,
    "argmax_order_per_customer": ARGMAX_ORDER_ORACLE,
    "map_column_stats": MAP_COLUMN_ORACLE,
    "xml_roundtrip_extract": XML_ROUNDTRIP_ORACLE,
    "not_in_null_semantics": NOT_IN_NULL_ORACLE,
    "integer_division_semantics": INT_DIV_ORACLE,
    "null_ordering_semantics": NULL_ORDERING_ORACLE,
}
