"""UDF machinery surface (SURVEY §2.12): the three Python extension
points the engine exposes for semantics native expressions can't
reach, each demonstrated as an oracle-checked query.

The reference's own "UDFs" are row-wise Python helpers that all
restate as native expressions (§2.5) — so none of these is needed for
reference parity. They exist because the beyond-reference surface
(custom featurizers, model scoring, feed fetching) needs them:

* scalar ``pandas_udf`` — Arrow-vectorized elementwise compute
  (10-100× over row-at-a-time Python UDFs; still ~2-5× slower than
  staying JVM-side, so only for logic with no expression equivalent).
* grouped-map ``applyInPandas`` — per-group pandas programs; the
  group key partitions the shuffle, each group must fit one worker.
* Python UDTF — one row in, many rows out, usable from SQL via
  ``spark.udtf.register``.

Scale notes: every entry here crosses the JVM→Arrow→pandas boundary,
so partition parallelism (``io.fan_out`` locally, scan splits at real
scale) is what sets throughput; nothing shuffles except the
``applyInPandas`` group key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import table


# ── scalar pandas_udf ────────────────────────────────────────────────────

def make_log_return():
    """Vectorized log1p — stand-in for numeric feature transforms that
    live in numpy/scipy rather than Spark expressions. Built lazily:
    decorating with @pandas_udf requires an active SparkSession."""

    @pandas_udf("double")
    def log_return(price: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.log1p(price.to_numpy()))

    return log_return


def pandas_udf_log_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    log_return = make_log_return()
    return o.select(
        "o_orderkey",
        F.round(log_return("o_totalprice"), 6).alias("log_total"),
    )


PANDAS_UDF_ORACLE = """
SELECT o_orderkey, round(ln(1 + o_totalprice), 6) AS log_total
FROM orders
"""


# ── grouped-map applyInPandas ────────────────────────────────────────────

def grouped_map_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-value share via a grouped-map pandas program
    (the applyInPandas shape used for per-key model fitting). The same
    semantics are a window expression — the point here is the
    machinery contract: key-partitioned shuffle, per-group pandas."""
    o = table(spark, sf_dir, "orders")

    def share(pdf: pd.DataFrame) -> pd.DataFrame:
        total = pdf["o_totalprice"].sum()
        # floored parts-per-million, not .round(6): the share is a
        # quotient that can land on a decimal half-boundary, where
        # pandas' half-even, Spark's HALF_UP and DuckDB's binary
        # rounding all disagree; floor of the quotient is stable.
        return pd.DataFrame(
            {
                "o_custkey": pdf["o_custkey"],
                "o_orderkey": pdf["o_orderkey"],
                "spend_share_ppm": np.floor(
                    pdf["o_totalprice"] / total * 1e6
                ).astype("int64"),
            }
        )

    return o.select("o_custkey", "o_orderkey", "o_totalprice").groupBy(
        "o_custkey"
    ).applyInPandas(share, "o_custkey long, o_orderkey long, spend_share_ppm long")


GROUPED_MAP_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(floor(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey) * 1e6) AS BIGINT)
         AS spend_share_ppm
FROM orders
"""


# ── Python UDTF ──────────────────────────────────────────────────────────

def udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF registered into SQL: one document row → one row per
    token with its position (the feed-entry-explosion shape of
    `RSS PARSER/gcp_rss.py:86-112`, where one fetched feed yields many
    records)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, pos: int, token: string")
    class TokenExplode:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split()):
                yield doc_id, i, tok

    spark.udtf.register("token_explode", TokenExplode)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT t.doc_id, t.pos, t.token
        FROM documents_v d,
             LATERAL token_explode(d.doc_id, d.text) t
        WHERE d.doc_id % 10 = 0
        """
    )


UDTF_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS t
  FROM documents
  WHERE doc_id % 10 = 0)
SELECT doc_id,
       CAST(generate_subscripts(t, 1) - 1 AS INT) AS pos,
       unnest(t) AS token
FROM toks
"""


def arrow_udf_order_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-optimized scalar Python UDF (``useArrow=True``):
    rows cross the JVM↔Python boundary as Arrow batches instead of
    pickled singletons. Still the slow path versus built-in
    expressions (the tiering below is one CASE away from pure
    codegen — a real pipeline would write that instead); this query
    exists to cover the fourth UDF execution mode alongside
    pandas_udf / applyInPandas / UDTF, with bit-identical results to
    the SQL oracle (boundary constants are exact doubles)."""
    from pyspark.sql.functions import udf

    @udf("string", useArrow=True)
    def tier(total: float) -> str:
        if total is None:
            return None
        if total < 50000.0:
            return "small"
        if total < 200000.0:
            return "mid"
        return "large"

    o = table(spark, sf_dir, "orders")
    return (
        o.select(tier("o_totalprice").alias("tier"), "o_totalprice")
        .groupBy("tier")
        .agg(
            F.count("*").alias("n"),
            # o_totalprice is 2-decimal by construction: e2 scaling is exact
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("total_e2"),
        )
    )


ARROW_UDF_ORACLE = """
SELECT CASE WHEN o_totalprice < 50000.0 THEN 'small'
            WHEN o_totalprice < 200000.0 THEN 'mid'
            ELSE 'large' END AS tier,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_e2
FROM orders
GROUP BY 1
"""


def arrow_grouped_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped aggregation — the zero-pandas member
    of the §2.12 surface: each event_type group arrives as ONE Arrow
    table and reduces via ``pyarrow.compute`` kernels (no
    pandas object boxing at all; columnar in, columnar out).  Values
    floor-scale to e4 ints BEFORE the UDF so the sum is exact and
    engine-portable.

    Scale note: a grouped-map UDF materializes each group on one
    task — fine for a catalog-bounded key like event_type; a
    high-cardinality key would use the two-level pattern instead."""
    from ..io import table

    e = table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1e4).cast("long").alias("v_e4")
    )

    def stats(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        col = tbl.column("v_e4")
        return pa.Table.from_pydict(
            {
                "event_type": [tbl.column("event_type")[0].as_py()],
                "n": [tbl.num_rows],
                "v_sum_e4": [pc.sum(col).as_py()],
                "v_min_e4": [pc.min(col).as_py()],
                "v_max_e4": [pc.max(col).as_py()],
            }
        )

    return e.groupBy("event_type").applyInArrow(
        stats, "event_type string, n long, v_sum_e4 long, v_min_e4 long, v_max_e4 long"
    )


ARROW_GROUPED_ORACLE = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS v_sum_e4,
       CAST(min(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS v_min_e4,
       CAST(max(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS v_max_e4
FROM events GROUP BY 1
"""


def udtf_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with TABLE() input and ``terminate()`` partials —
    the §2.12 piece the row-wise `udtf_token_explode` doesn't touch:
    each partition's UDTF instance accumulates per-column null/row
    counts in ``eval`` and emits ONE summary row per column from
    ``terminate``; an ordinary outer GROUP BY merges the partials.
    That is the map-side-combine shape expressed through the UDTF
    API — partition-local state, mergeable output, no per-row rows.

    Certified against plain per-column count aggregates."""
    from pyspark.sql.functions import udtf

    from ..io import table

    @udtf(returnType="col_name string, n_rows long, n_nulls long")
    class NullProfile:
        def __init__(self):
            self.n = 0
            self.nulls: dict[str, int] = {}

        def eval(self, row):
            self.n += 1
            for c in row.__fields__:
                if row[c] is None:
                    self.nulls[c] = self.nulls.get(c, 0) + 1
                else:
                    self.nulls.setdefault(c, 0)

        def terminate(self):
            for c, n_null in self.nulls.items():
                yield c, self.n, n_null

    spark.udtf.register("null_profile", NullProfile)
    table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    ).createOrReplaceTempView("events_np")
    return spark.sql(
        """
        SELECT col_name,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(n_nulls) AS BIGINT) AS n_nulls
        FROM null_profile(TABLE(events_np))
        GROUP BY col_name
        """
    )


UDTF_NULL_PROFILE_ORACLE = """
SELECT 'event_id' AS col_name, count(*) AS n_rows,
       CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls FROM events
UNION ALL
SELECT 'user_id', count(*), CAST(count(*) - count(user_id) AS BIGINT) FROM events
UNION ALL
SELECT 'event_type', count(*), CAST(count(*) - count(event_type) AS BIGINT) FROM events
UNION ALL
SELECT 'value', count(*), CAST(count(*) - count(value) AS BIGINT) FROM events
UNION ALL
SELECT 'props', count(*), CAST(count(*) - count(props) AS BIGINT) FROM events
"""


def pandas_api_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas-API-on-Spark (`pyspark.pandas`) surface demonstration:
    the per-language corpus profile written as a pandas groupby-agg —
    same Catalyst plan underneath (`to_spark()` exposes it), so a
    pandas-fluent user gets distributed execution without learning
    the DataFrame API.  Emitted columns re-derive integer-exact stats
    so the DuckDB oracle binds; the distributed default index keeps
    the conversion shuffle-free."""
    import pyspark.pandas as ps

    ps.set_option("compute.default_index_type", "distributed")
    pdf = ps.read_parquet(f"{sf_dir}/documents.parquet")
    g = (
        pdf.groupby("lang")
        .agg(n_docs=("doc_id", "count"), chars_sum=("n_chars", "sum"))
        .reset_index()
    )
    out = g.to_spark()
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("chars_sum").cast("long").alias("chars_sum"),
        F.expr(
            "CAST(CAST(chars_sum AS DECIMAL(38,0)) DIV n_docs AS BIGINT)"
        ).alias("mean_chars_floor"),
    )


PANDAS_API_ORACLE = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       CAST(CAST(sum(n_chars) AS HUGEINT) // count(*) AS BIGINT)
         AS mean_chars_floor
FROM documents GROUP BY 1
"""


def sql_udf_percent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 percent parsing re-expressed as a Spark 4 SQL-defined
    function (``CREATE TEMPORARY FUNCTION … RETURN <expr>``) — the
    fourth UDF modality on the surface after pandas/Arrow/UDTF, and
    the only one that stays ENTIRELY inside Catalyst: the body is
    inlined into the plan (the companion test asserts no
    BatchEvalPython / ArrowEvalPython node exists), so it codegens
    like a built-in while giving users the reusable-function
    ergonomics the reference's ``convert_percentage`` helper provides
    (`RSS PARSER/gcp_rss.py:54-59`).

    Input strings are the same integer-derived registry-style
    fixtures as ``t1``–``t4`` (float-formatted fixtures would diverge
    at the ulp between JVM and C rounding)."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION fx_pct_to_frac(s STRING)
        RETURNS DOUBLE
        RETURN CASE
          WHEN s IS NULL OR s = '-' THEN NULL
          WHEN contains(s, '%')
            THEN try_cast(replace(s, '%', '') AS DOUBLE) / 100.0
          ELSE try_cast(s AS DOUBLE)
        END
        """
    )
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey") % 4
    pct_int = (F.col("c_custkey") % 200).cast("string")
    frac_int = (F.col("c_custkey") % 1000).cast("string")
    raw = (
        F.when(k == 0, F.concat(pct_int, F.lit(".5%")))
        .when(k == 1, F.lit("-"))
        .when(k == 2, F.concat(F.lit("0."), frac_int))
        .otherwise(F.lit(None).cast("string"))
    )
    return c.select("c_custkey", raw.alias("raw_pct")).select(
        "c_custkey",
        "raw_pct",
        F.round(F.expr("fx_pct_to_frac(raw_pct)"), 6).alias("ratio"),
    )


#: identical fixture + semantics to T4 — the SQL UDF must be
#: indistinguishable from the inline expression
SQL_UDF_PCT_ORACLE = """
WITH src AS (
  SELECT c_custkey,
         CASE c_custkey % 4
           WHEN 0 THEN CAST(c_custkey % 200 AS VARCHAR) || '.5%'
           WHEN 1 THEN '-'
           WHEN 2 THEN '0.' || CAST(c_custkey % 1000 AS VARCHAR)
           ELSE NULL END AS raw_pct
  FROM customer)
SELECT c_custkey, raw_pct,
       round(CASE
         WHEN raw_pct IS NULL OR raw_pct = '-' THEN NULL
         WHEN raw_pct LIKE '%\\%%' ESCAPE '\\'
           THEN TRY_CAST(replace(raw_pct, '%', '') AS DOUBLE) / 100.0
         ELSE TRY_CAST(raw_pct AS DOUBLE) END, 6) AS ratio
FROM src
"""


def map_in_arrow_char_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the sixth UDF modality on the surface (after
    pandas_udf, applyInPandas, mapInPandas, UDTF, applyInArrow):
    whole Arrow RecordBatches stream through Python with ZERO
    pandas materialization, and all compute stays in Arrow's
    vectorized kernels (``utf8_length``, ``count_substring``) — the
    shape for byte-level featurization where pandas object columns
    would dominate cost.

    Emits the per-document character/space profile; the oracle
    restates it with plain SQL string functions, certifying the
    Arrow kernels agree with engine semantics (a non-trivial
    contract: e.g. utf8_length is codepoints, like length())."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = table(spark, sf_dir, "documents").select("doc_id", "text")

    def profile(batches):
        for b in batches:
            t = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(t), pa.int64()),
                    pc.cast(pc.count_substring(t, " "), pa.int64()),
                ],
                ["doc_id", "n_chars", "n_spaces"],
            )

    return d.mapInArrow(profile, "doc_id long, n_chars long, n_spaces long")


MAP_IN_ARROW_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
"""


def make_gini_ppm_udf():
    """GROUPED_AGG pandas UDF: exact integer Gini ppm of a long
    series (big-int quotient; see pandas_grouped_agg_gini).  Factory
    form so property tests can apply it to generated frames."""

    @pandas_udf("long")
    def gini_ppm(v: pd.Series) -> int:
        x = np.sort(v.to_numpy(np.int64))
        n = len(x)
        # object dtype = Python big-ints end to end: the int64
        # numerator Σ(2i−n−1)·x wraps SILENTLY (numpy never raises)
        # once n·Σ|x| nears 2^63 — ~1e6 rows of ~1e7 cents
        xo = x.astype(object)
        sx = int(xo.sum())
        if n == 0 or sx == 0:
            return 0
        i = np.arange(1, n + 1, dtype=np.int64)
        num = int(((2 * i - n - 1).astype(object) * xo).sum())
        den = int(n) * sx
        return (1_000_000 * num) // den

    return gini_ppm


def pandas_grouped_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the seventh UDF modality (a true
    user-defined AGGREGATE: the whole group's column arrives as one
    pandas Series, returns one scalar), here computing the exact
    integer Gini concentration of order value per status.

    Exactness discipline: prices floor to cents; the Gini numerator
    ``Σ (2i−n−1)·x₍ᵢ₎`` over cents is an integer, and tied values
    multiply CONSECUTIVE integer weights whose block total is
    tie-order invariant — so no tiebreak is even needed for the sum
    to be exact; the ppm quotient runs in Python big-ints (the 1e6
    premultiply overflows int64 at fixture scale already).  The
    oracle restates the same rank formula with one window.

    Scale note: a grouped-agg UDF ships each full group through
    Arrow — fine for group-bounded aggregates like this (statuses
    are 3); for high-cardinality groups the tournament/histogram
    formulations elsewhere in the repo are the scale path."""
    o = table(spark, sf_dir, "orders")
    gini_ppm = make_gini_ppm_udf()

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # Spark refuses to mix grouped-agg pandas UDFs with built-in
        # aggregates in one agg() — the count is a pandas UDF too
        return len(v)

    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_orderstatus", cents.alias("v"))
        .groupBy("o_orderstatus")
        .agg(
            n_rows("v").alias("n_orders"),
            gini_ppm("v").alias("gini_ppm"),
        )
    )


GROUPED_AGG_GINI_ORACLE = """
WITH x AS (
  SELECT o_orderstatus AS s,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders),
r AS (
  SELECT s, v,
         row_number() OVER (PARTITION BY s ORDER BY v) AS i,
         count(*) OVER (PARTITION BY s) AS n,
         sum(v) OVER (PARTITION BY s) AS t
  FROM x)
SELECT s AS o_orderstatus,
       CAST(max(n) AS BIGINT) AS n_orders,
       CAST(CAST(1000000 AS HUGEINT)
            * sum((2 * CAST(i AS HUGEINT) - n - 1) * v)
            // (CAST(max(n) AS HUGEINT) * max(t)) AS BIGINT) AS gini_ppm
FROM r
GROUP BY 1
"""


QUERIES = {
    "pandas_udf_log_return": pandas_udf_log_return,
    "grouped_map_share": grouped_map_share,
    "udtf_token_explode": udtf_token_explode,
    "arrow_udf_order_tier": arrow_udf_order_tier,
    "arrow_grouped_value_stats": arrow_grouped_value_stats,
    "pandas_api_lang_stats": pandas_api_lang_stats,
    "udtf_null_profile": udtf_null_profile,
    "sql_udf_percent_parse": sql_udf_percent_parse,
    "map_in_arrow_char_profile": map_in_arrow_char_profile,
    "pandas_grouped_agg_gini": pandas_grouped_agg_gini,
}

ORACLES = {
    "pandas_udf_log_return": PANDAS_UDF_ORACLE,
    "grouped_map_share": GROUPED_MAP_ORACLE,
    "udtf_token_explode": UDTF_ORACLE,
    "arrow_udf_order_tier": ARROW_UDF_ORACLE,
    "arrow_grouped_value_stats": ARROW_GROUPED_ORACLE,
    "pandas_api_lang_stats": PANDAS_API_ORACLE,
    "udtf_null_profile": UDTF_NULL_PROFILE_ORACLE,
    "sql_udf_percent_parse": SQL_UDF_PCT_ORACLE,
    "map_in_arrow_char_profile": MAP_IN_ARROW_ORACLE,
    "pandas_grouped_agg_gini": GROUPED_AGG_GINI_ORACLE,
}
