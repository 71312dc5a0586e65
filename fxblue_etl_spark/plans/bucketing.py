"""Bucketed-table layout: the shuffle-free fact⋈dim join at scale.

The reference joins its registry onto trades in pandas after both
sides are fully materialized (`RSS PARSER/gcp_rss.py:118-133`); at
100 TB the equivalent repeated join must not re-shuffle the fact
table every run. The Spark answer is a bucketed layout: write both
sides bucketed (and sorted) on the join key into the same number of
buckets, and every subsequent equi-join on that key is planned as a
SortMergeJoin whose children are already hash-partitioned by bucket —
no Exchange on either side, on any run, forever. The one-time
bucketing shuffle is amortized across every downstream join.

`tests/test_bucketing.py` asserts the executed plan: exactly one
Exchange (the final aggregation's), none under the join, and the
scans marked `Bucketed: true`.

At 100 TB: bucket count is chosen per-table at layout time (here 8
for a test-scale fixture; real layouts use hundreds) and both sides
MUST agree on it — Spark only elides the shuffle when bucket counts
match (or divide evenly with `spark.sql.bucketing.coalesceBucketsInJoin`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fixture_key, stage_fixture, table
from ..session import tune

N_BUCKETS = 8

#: (catalog table suffix, fixture table, bucket/join key)
_LAYOUT = (
    ("orders", "orders", "o_custkey"),
    ("customer", "customer", "c_custkey"),
)


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Orders/customer as bucketed external tables: the bucketed files
    are staged once per fixture (``io.stage_fixture``), and the table
    over them is registered in the session catalog unless it already
    exists.  The build writes through a scratch table, the only writer
    that buckets, and drops the entry; the files stay."""
    tag = fixture_key(sf_dir)
    names = []
    for suffix, src, key in _LAYOUT:
        name = f"fxb_{suffix}_{tag}"
        if not spark.catalog.tableExists(name):
            df = table(spark, sf_dir, src)

            def build(tmp: str) -> None:
                (
                    df.write.mode("overwrite")
                    .format("parquet")
                    .option("path", tmp)
                    .bucketBy(N_BUCKETS, key)
                    .sortBy(key)
                    .saveAsTable(f"{name}_build")
                )
                spark.sql(f"DROP TABLE {name}_build")

            path = stage_fixture(sf_dir, f"bucketed_{suffix}", build)
            spark.sql(
                f"CREATE TABLE {name} ({df.schema.toDDL()}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
                f"LOCATION '{path}'"
            )
        names.append(name)
    return names[0], names[1]


def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer on custkey off the bucketed layout, rolled up
    by market segment. The `merge` hint pins SortMergeJoin (the plan a
    100 TB fact forces anyway — broadcast is off the table) so the
    test certifies the bucketing, not AQE's choice for a small fixture."""
    tune(spark)
    orders_t, customer_t = _bucketed_tables(spark, sf_dir)
    o = spark.table(orders_t)
    c = spark.table(customer_t)
    j = o.hint("merge").join(
        c.hint("merge"), o["o_custkey"] == c["c_custkey"]
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        F.min("o_orderdate").cast("string").alias("first_date"),
    )


BUCKETED_JOIN_ORACLE = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


QUERIES = {
    "bucketed_colocated_join": bucketed_colocated_join,
}

ORACLES = {
    "bucketed_colocated_join": BUCKETED_JOIN_ORACLE,
}
