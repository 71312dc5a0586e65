"""Pipeline observability & modern DataFrame API surface: observe()
metric accumulators, Spark 4 listagg with WITHIN-GROUP ordering, and
DataFrame.transpose.

The reference has no metrics surface at all (its pipelines print row
counts to stdout); a production ingest at 100 TB needs in-flight
metrics that do NOT re-scan the input.  ``Observation`` is Spark's
mechanism: accumulator-backed aggregates collected as a side effect
of the one action the pipeline already runs — zero extra jobs, zero
extra scans (contrast a separate ``df.agg(...)`` pass, which re-reads
the source).

- ``observed_ingest_metrics``: a lineitem ingest pass observed with
  count / exact e2 money sums / min-max bounds; the emitted single
  row IS the observation payload, so the DuckDB oracle certifies the
  accumulator path end-to-end against a declarative recompute.
- ``listagg_top_customers``: Spark 4's ``listagg`` (ANSI WITHIN GROUP
  ORDER BY) — deterministic by construction here: the inputs are the
  top-5 customers per status under a total (count desc, custkey asc)
  order, so the concatenated string is bit-stable in both engines.
- ``order_status_transpose``: Spark 4's ``DataFrame.transpose`` —
  metric rows × status columns from a 3-row aggregate. Transpose is
  driver-bounded by design (column count = former row count), which
  is exactly right for a bounded-cardinality summary and wrong for
  anything corpus-sized; the docstring is the fence.

Scale shape: each query is one map-side-combined aggregate over the
fact table; everything downstream (observation payload, top-5
window, transpose) operates on ≤ tens of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table

#: customers kept per status in the listagg
LISTAGG_K = 5


def observed_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observe an ingest-shaped pass over lineitem and emit the
    accumulated metrics as the result row.

    The observed aggregates ride the SAME action that drives the
    pipeline (here a count of the filtered pass-through) — at scale
    this is the difference between metrics-for-free and a second
    100 TB scan. Money is accumulated as exact e2 integers (the
    repo-wide cross-engine money discipline)."""
    li = table(spark, sf_dir, "lineitem")
    obs = Observation("ingest")
    monitored = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty_total"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).alias(
            "price_e2_total"
        ),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
            "n_returned"
        ),
    )
    # the pipeline's one action; the observation fills as a side effect
    n_shipped = monitored.filter(F.col("l_linestatus") == "F").count()
    payload = dict(obs.get)
    payload["n_status_f"] = n_shipped
    row = [tuple(int(payload[k]) for k in sorted(payload))]
    return spark.createDataFrame(row, schema=", ".join(f"{k} long" for k in sorted(payload)))


OBSERVED_ORACLE = """
SELECT CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
       CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_status_f,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_e2_total,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_total
FROM lineitem
"""


def listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order status: order volume and the top-LISTAGG_K customers
    by order count, concatenated with Spark 4's ``listagg`` under an
    explicit WITHIN-GROUP order — deterministic because the ranked
    input order (n desc, custkey asc) is total."""
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_custkey").cast("string").alias("cust"),
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("status").orderBy(
        F.desc("n"), F.asc(F.col("cust").cast("long"))
    )
    top = per_cust.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= LISTAGG_K
    )
    return top.groupBy("status").agg(
        F.sum("n").cast("long").alias("top_cust_orders"),
        F.expr(
            "listagg(cust, ',') WITHIN GROUP (ORDER BY rk ASC)"
        ).alias("top_custs"),
    )


LISTAGG_ORACLE = f"""
WITH per_cust AS (
  SELECT o_orderstatus AS status, CAST(o_custkey AS VARCHAR) AS cust,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY status
                               ORDER BY n DESC, CAST(cust AS BIGINT) ASC) AS rk
  FROM per_cust QUALIFY rk <= {LISTAGG_K})
SELECT status,
       CAST(sum(n) AS BIGINT) AS top_cust_orders,
       string_agg(cust, ',' ORDER BY rk ASC) AS top_custs
FROM ranked GROUP BY 1
"""


def order_status_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric rows × status columns via Spark 4's
    ``DataFrame.transpose``: the 3-row per-status aggregate flips to
    one row per metric with a column per status. Transpose pivots
    former row-index values into column NAMES, so it is only
    legitimate when the row count is bounded (3 statuses here) — the
    inverse of the corpus-sized cases where ``unpivot`` applies."""
    o = table(spark, sf_dir, "orders")
    agg = (
        o.groupBy(F.lower("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("total_e2"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .select("status", "n_orders", "total_e2", "n_customers")
    )
    return agg.transpose().withColumnRenamed("key", "metric")


TRANSPOSE_ORACLE = """
WITH a AS (
  SELECT lower(o_orderstatus) AS s,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_e2,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders GROUP BY 1)
SELECT m.metric,
       (SELECT CASE m.metric WHEN 'n_orders' THEN n_orders
                             WHEN 'total_e2' THEN total_e2
                             ELSE n_customers END FROM a WHERE s = 'f') AS f,
       (SELECT CASE m.metric WHEN 'n_orders' THEN n_orders
                             WHEN 'total_e2' THEN total_e2
                             ELSE n_customers END FROM a WHERE s = 'o') AS o,
       (SELECT CASE m.metric WHEN 'n_orders' THEN n_orders
                             WHEN 'total_e2' THEN total_e2
                             ELSE n_customers END FROM a WHERE s = 'p') AS p
FROM (VALUES ('n_orders'), ('total_e2'), ('n_customers')) m(metric)
"""


QUERIES = {
    "observed_ingest_metrics": observed_ingest_metrics,
    "listagg_top_customers": listagg_top_customers,
    "order_status_transpose": order_status_transpose,
}

ORACLES = {
    "observed_ingest_metrics": OBSERVED_ORACLE,
    "listagg_top_customers": LISTAGG_ORACLE,
    "order_status_transpose": TRANSPOSE_ORACLE,
}
