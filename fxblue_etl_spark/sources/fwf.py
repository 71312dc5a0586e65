"""Fixed-width text source — the mainframe/legacy export format the
CSV family (S2) doesn't cover: no delimiters, columns live at byte
offsets, schema is a (name, start, width, type) spec.

Reference parity: the reference parses exactly one text format
(delimited CSV via pandas, `CSV PARSER/gcp_csv.py:76`); fixed-width is
the sibling ingestion path a finance-data lake invariably needs
(exchange EOD files, regulatory exports).  Same tolerant posture as
the CSV path: a malformed slice casts to NULL, never fails the file
(F4's per-row tolerance).

Spark-first shape: ``spark.read.text`` (splittable, whole-stage
codegen) + one ``substring``/``trim``/``cast`` projection per column —
all JVM-side; no UDF, no per-row Python.  At 100 TB the text scan
parallelizes by HDFS block exactly like any other line format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import stage_fixture, table
from ..session import tune

#: the staged layout: (column, start [1-based], width, spark type)
FWF_SPEC: tuple[tuple[str, int, int, str], ...] = (
    ("o_orderkey", 1, 12, "long"),
    ("o_custkey", 13, 12, "long"),
    ("o_orderstatus", 25, 1, "string"),
    ("cents", 26, 14, "long"),
    ("o_orderdate", 40, 10, "string"),
)
FWF_LINE_WIDTH = sum(w for _, _, w, _ in FWF_SPEC)


def read_fwf(
    spark: SparkSession,
    path: str,
    spec: tuple[tuple[str, int, int, str], ...] = FWF_SPEC,
) -> DataFrame:
    """Parse a fixed-width text file per ``spec``: one substring +
    trim + try-cast per column (invalid slices → NULL, the reference's
    coercion posture), plus the raw line length for schema gating."""
    raw = spark.read.text(path)
    cols = [
        F.expr(
            f"try_cast(trim(substring(value, {start}, {width})) AS {typ})"
        ).alias(name)
        for name, start, width, typ in spec
    ]
    return raw.select(*cols, F.length("value").alias("_line_len"))


def _stage_fwf(spark: SparkSession, sf_dir: str) -> str:
    """orders rendered as a fixed-width file (staged once per fixture):
    integers right-padded into their slots with lpad, exactly the
    layout FWF_SPEC reads back."""
    def build(tmp: str) -> None:
        o = table(spark, sf_dir, "orders")
        line = F.concat(
            F.lpad(F.col("o_orderkey").cast("string"), 12, " "),
            F.lpad(F.col("o_custkey").cast("string"), 12, " "),
            F.col("o_orderstatus"),
            F.lpad(
                F.floor(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
                14,
                " ",
            ),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        o.select(line.alias("value")).write.mode("overwrite").text(tmp)

    return stage_fixture(sf_dir, "orders_fwf", build)


def fwf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width round trip: orders → FWF_SPEC layout → read_fwf →
    per-status rollup, certified against the oracle computed straight
    off the source table — any loss in the render/parse loses the
    hash.  The line-width gate (every line exactly FWF_LINE_WIDTH
    chars) is asserted inside the result so a drifting writer is a
    visible integer, not a silent parse skew."""
    tune(spark)
    path = _stage_fwf(spark, sf_dir)
    parsed = read_fwf(spark, path)
    return parsed.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
        F.sum(
            (F.col("_line_len") != FWF_LINE_WIDTH).cast("long")
        )
        .cast("long")
        .alias("n_bad_width"),
    )


FWF_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       CAST(min(o_orderdate) AS VARCHAR)[1:10] AS first_date,
       CAST(max(o_orderdate) AS VARCHAR)[1:10] AS last_date,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(0 AS BIGINT) AS n_bad_width
FROM orders
GROUP BY 1
"""


QUERIES = {
    "fwf_ingest": fwf_ingest,
}

ORACLES = {
    "fwf_ingest": FWF_ORACLE,
}
