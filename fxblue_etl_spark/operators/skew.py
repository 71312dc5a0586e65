"""Skew-handling join/aggregation (100 TB posture).

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`) handles
most skew automatically, but only for sort-merge joins and only at
runtime. This module provides the explicit *salting* pattern for the
cases AQE can't reach — e.g. a hot key inside a shuffle whose other
side is small enough to replicate:

* ``salted_join`` — fact rows get a uniform salt in ``[0, n)``; the
  (small) build side is exploded ×n with every salt value; the join
  key becomes ``(key, salt)`` so one hot key spreads across n tasks.
  Replication cost: ``|dim| × n`` rows — only viable when the build
  side is dim-sized, which is exactly when the hot-key problem bites.
* ``salted_count`` — two-phase aggregation through an explicit salt,
  for aggregates that aren't algebraic (Spark's own partial
  aggregation already covers sums/counts; the two-phase form is the
  template for e.g. exact distinct sketches per hot key).

The salt is derived from ``xxhash64`` of the fact's own columns, so
results are deterministic and salt only affects placement, never
values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: Sequence[str],
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the build side replicated across ``n_salt``
    sub-keys so a hot fact key fans out over ``n_salt`` tasks."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salt))
    f = fact.withColumn("_salt", salt)
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = f.join(d, [*key, "_salt"], how)
    return out.drop("_salt")


def salted_count(
    df: DataFrame, key: Sequence[str], n_salt: int = 8
) -> DataFrame:
    """Two-phase count through an explicit salt: partial count per
    (key, salt), then final sum per key."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    return (
        df.withColumn("_salt", salt)
        .groupBy(*key, "_salt")
        .agg(F.count("*").alias("_partial"))
        .groupBy(*key)
        .agg(F.sum("_partial").alias("n"))
    )


# ── oracle-checked demonstrations ────────────────────────────────────────

def salted_join_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ supplier through an 8-way salted join, then revenue
    per nation — values identical to the unsalted join (oracle), only
    task placement differs."""
    l = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier").withColumnRenamed("s_suppkey", "l_suppkey")
    joined = salted_join(
        l.select("l_suppkey", "l_extendedprice", "l_discount"),
        s.select("l_suppkey", "s_nationkey"),
        ["l_suppkey"],
    )
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SALTED_JOIN_ORACLE = """
SELECT s_nationkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""


def salted_count_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return salted_count(e, ["event_type"])


SALTED_COUNT_ORACLE = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


#: lineitem join-key columns profiled by the skew report
SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis — the report that decides WHETHER the
    salting in this module (or AQE skew splitting) is needed for a
    given join key, before burning a 100 TB shuffle to find out. Per
    candidate key column of lineitem: distinct key count, max and p99
    per-key row count (``percentile_disc`` order statistics — exact),
    mean rows/key in ppm, and the max/mean skew ratio in ppm
    (1e6 ≈ perfectly uniform; ≫1e6 = hot key).

    All ratios are integer cross-multiplications
    (``(1e6·max·n_keys) DIV n_rows``), DECIMAL(38,0)/HUGEINT per the
    overflow discipline (max·n_keys can reach ~1e24 on a trillion-row
    fact with a billion keys).

    Scale shape: ONE unpivot (row-local stack, 3× the scan) feeding
    one map-side-combined groupBy on (key_col, key) then a
    key_col-partitioned re-aggregate — the per-key count table is the
    same size a real join shuffle would build, which is the honest
    cost of measuring it; sample first if even that is too dear."""
    li = table(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack({n}, {args}) AS (key_col, key)".format(
                n=len(SKEW_KEYS),
                args=", ".join(f"'{k}', {k}" for k in SKEW_KEYS),
            )
        )
    )
    per_key = stacked.groupBy("key_col", "key").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        per_key.groupBy("key_col")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows"),
            F.expr(
                "CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY n)"
                " AS BIGINT)"
            ).alias("p99_rows"),
        )
        .select(
            "key_col",
            "n_keys",
            "n_rows",
            "max_rows",
            "p99_rows",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_rows"
                " DIV CAST(n_keys AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("mean_rows_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * max_rows * n_keys"
                " DIV CAST(n_rows AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("skew_ratio_ppm"),
        )
    )


SKEW_REPORT_ORACLE = f"""
WITH stacked AS (
  {" UNION ALL ".join(f"SELECT '{k}' AS key_col, {k} AS key FROM lineitem" for k in SKEW_KEYS)}),
per_key AS (
  SELECT key_col, key, CAST(count(*) AS BIGINT) AS n
  FROM stacked GROUP BY 1, 2),
agg AS (
  SELECT key_col,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(max(n) AS BIGINT) AS max_rows,
         CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_rows
  FROM per_key GROUP BY 1)
SELECT key_col, n_keys, n_rows, max_rows, p99_rows,
       CAST(CAST(1000000 AS HUGEINT) * n_rows // CAST(n_keys AS HUGEINT)
            AS BIGINT) AS mean_rows_ppm,
       CAST(CAST(1000000 AS HUGEINT) * max_rows * n_keys
            // CAST(n_rows AS HUGEINT) AS BIGINT) AS skew_ratio_ppm
FROM agg
"""


#: hot-key threshold for the hybrid join: a customer with more
#: orders than this is routed through the broadcast path
HYBRID_HOT_MIN = 12


def hybrid_skew_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid hot/cold skew join — the THIRD skew technique alongside
    salting (`salted_join_supplier_revenue`) and AQE skew-split: keys
    whose fact-side frequency exceeds HYBRID_HOT_MIN route through a
    broadcast join against the (tiny) hot slice of the dimension,
    everything else takes the normal shuffle-hash join, and the
    union is provably the plain join.  At 100 TB this is the shape
    for power-law keys too hot even for salting (one key >> one
    executor's memory after an 8-way salt): the hot dim slice is
    bounded by the number of hot keys, never by their row mass.

    Exact integer contract (revenue in cents); the audit columns
    carry the routing evidence — hot-key count and per-path row
    counts — so the oracle certifies both the answer AND the split
    accounting.  Plan: one fact-side count to find hot keys
    (broadcast back as a filter), broadcast join for the hot slice,
    shuffle-hash-hinted join for the cold, union into one
    nation-level aggregate."""
    from ..io import swap_cache

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # persist the hot-key set (bounded by the number of hot keys,
    # never their row mass): it feeds the fact-side tag, the hot dim
    # slice, and the audit scalar — un-persisted, each reference
    # re-ran the full fact-side frequency count (the r14 scan sweep
    # measured 11 orders scans in this one plan; guide §2.4)
    hot_keys = swap_cache(
        "skew.hybrid_hot_keys",
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > HYBRID_HOT_MIN)
        .select(F.col("o_custkey").alias("hk")),
    )
    fact = o.join(
        F.broadcast(hot_keys), o.o_custkey == F.col("hk"), "left"
    ).withColumn("is_hot", F.col("hk").isNotNull())
    hot_dim = c.join(
        F.broadcast(hot_keys), c.c_custkey == F.col("hk")
    ).select("c_custkey", "c_nationkey")
    hot_side = (
        fact.filter("is_hot")
        .select("o_custkey", "o_totalprice")
        .join(F.broadcast(hot_dim), F.col("o_custkey") == F.col("c_custkey"))
        .withColumn("path_hot", F.lit(1).cast("long"))
    )
    cold_side = (
        fact.filter("NOT is_hot")
        .select("o_custkey", "o_totalprice")
        .join(
            c.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey")
        )
        .withColumn("path_hot", F.lit(0).cast("long"))
    )
    unioned = hot_side.unionByName(cold_side)
    # fold the routing audit INTO the nation aggregate (one pass over
    # the unioned fact join instead of two — its second consumer was
    # re-executing both join paths; guide §2.4), then derive the
    # global audit scalars from the tiny persisted per-nation frame:
    # Σ path_hot over nation groups IS the row-level hot count
    per_nation = swap_cache(
        "skew.hybrid_per_nation",
        unioned.groupBy("c_nationkey").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias(
                "revenue_cents"
            ),
            F.count("*").cast("long").alias("n_orders"),
            F.sum("path_hot").cast("long").alias("_hot_rows"),
        ),
    )
    audit = per_nation.agg(
        F.sum("_hot_rows").cast("long").alias("n_hot_rows"),
        (F.sum("n_orders") - F.sum("_hot_rows"))
        .cast("long")
        .alias("n_cold_rows"),
    )
    nhot = hot_keys.agg(F.count("*").cast("long").alias("n_hot_keys"))
    return (
        per_nation.crossJoin(F.broadcast(audit))
        .crossJoin(F.broadcast(nhot))
        .select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            "revenue_cents",
            "n_orders",
            "n_hot_keys",
            "n_hot_rows",
            "n_cold_rows",
        )
    )


HYBRID_SKEW_ORACLE = f"""
WITH hot AS (
  SELECT o_custkey AS hk FROM orders GROUP BY 1
  HAVING count(*) > {HYBRID_HOT_MIN}),
j AS (
  SELECT o.o_custkey, o.o_totalprice, c.c_nationkey,
         CASE WHEN h.hk IS NOT NULL THEN 1 ELSE 0 END AS path_hot
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN hot h ON o.o_custkey = h.hk),
audit AS (
  SELECT CAST(sum(path_hot) AS BIGINT) AS n_hot_rows,
         CAST(sum(1 - path_hot) AS BIGINT) AS n_cold_rows
  FROM j),
nhot AS (SELECT CAST(count(*) AS BIGINT) AS n_hot_keys FROM hot)
SELECT CAST(c_nationkey AS INT) AS nationkey,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders,
       n_hot_keys, n_hot_rows, n_cold_rows
FROM j, audit, nhot
GROUP BY 1, 4, 5, 6
"""


QUERIES = {
    "hybrid_skew_join_revenue": hybrid_skew_join_revenue,
    "salted_join_supplier_revenue": salted_join_supplier_revenue,
    "salted_count_events": salted_count_events,
    "join_skew_report": join_skew_report,
}

ORACLES = {
    "hybrid_skew_join_revenue": HYBRID_SKEW_ORACLE,
    "salted_join_supplier_revenue": SALTED_JOIN_ORACLE,
    "salted_count_events": SALTED_COUNT_ORACLE,
    "join_skew_report": SKEW_REPORT_ORACLE,
}
