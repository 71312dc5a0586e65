"""JSONL source with per-row corruption tolerance (F4 at the file
format level).

The reference tolerates bad rows inside a CSV file by coercing and
dropping (`CSV PARSER/gcp_csv.py:118-137`); the JSONL equivalent at
scale is Spark's PERMISSIVE mode with a corrupt-record column: a
malformed line becomes one quarantined row instead of failing the
split, and the pipeline accounts for it explicitly. This round-trip
writes `orders` as JSONL (plus a fixture file of known-bad lines),
reads it back with an explicit schema — schema inference over 100 TB
of JSONL is a full extra pass, never do it — and certifies both the
payload (against the source table) and the exact quarantine count.

Scale notes: the reader is a line-split text scan, embarrassingly
parallel; the explicit schema keeps parsing single-pass; corrupt rows
stay in-partition (no shuffle) and are summarized by the same final
aggregation as the good rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import stage_fixture, table
from ..session import tune

#: known-bad lines planted next to the real shards
CORRUPT_LINES = (
    '{"o_orderkey": not-a-number}',
    "this is not json at all",
    '{"o_orderkey": 1, "o_orderdate": "not-a-date"',
)

_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def _jsonl_layout(spark: SparkSession, sf_dir: str) -> str:
    def build(tmp: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        o.write.mode("overwrite").json(tmp)
        with open(os.path.join(tmp, "part-corrupt.json"), "w") as f:
            f.write("\n".join(CORRUPT_LINES) + "\n")

    return stage_fixture(sf_dir, "orders_jsonl", build)


def jsonl_tolerant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSONL shards + bad lines → PERMISSIVE read → summary.

    One row: good/corrupt counts and payload aggregates. If the reader
    dropped good rows, mangled a type, or mis-quarantined, the hash
    diverges from the oracle computed off the source table."""
    tune(spark)
    path = _jsonl_layout(spark, sf_dir)
    back = (
        spark.read.schema(_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        # e2-int sum: the global float sum diverges cross-engine in
        # the 4th decimal at sf0.1 (partial-aggregation order)
        F.sum(F.when(~bad, F.floor(F.col("o_totalprice") * 100).cast("long")))
        .cast("long")
        .alias("total_price_e2"),
        F.sum(F.when(~bad, F.col("o_orderkey"))).cast("long").alias("orderkey_sum"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.max("o_orderdate").cast("string").alias("last_date"),
    )


JSONL_ROUNDTRIP_ORACLE = f"""
SELECT count(*) AS n_good,
       CAST({len(CORRUPT_LINES)} AS BIGINT) AS n_corrupt,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_e2,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date,
       CAST(max(o_orderdate) AS VARCHAR) AS last_date
FROM orders
"""


QUERIES = {
    "jsonl_tolerant_roundtrip": jsonl_tolerant_roundtrip,
}

ORACLES = {
    "jsonl_tolerant_roundtrip": JSONL_ROUNDTRIP_ORACLE,
}
