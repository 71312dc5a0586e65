"""Optimizer-statistics collection — the ANALYZE TABLE surface an
engine needs to plan with: equi-depth histograms and most-common-value
(MCV) lists, computed exactly and deterministically.

The reference has no planner at all (write-only ETL); these are the
stats a cost-based optimizer over the same tables consumes, exposed
as first-class queries so collection itself is certified.

Determinism: bucket assignment uses ``ntile`` over a totally ordered
key (value, primary key) — no ties left to engine choice; every
emitted money value is an exact e2 integer.

Scale shape (100 TB): a global ``ntile`` needs a total order — a
single sort task in the naive plan. That's acceptable for stats
collection over a SAMPLE (how every warehouse runs ANALYZE) and the
fixture-scale plan documents it; the scale path samples first (the
hash-threshold sampler in corpusops), keeping sort input bounded.
The MCV pass is two map-side-combined aggregates, scale-linear.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table

#: equi-depth buckets
N_BUCKETS = 32
#: most-common values kept
MCV_K = 20


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of orders.o_totalprice: N_BUCKETS buckets
    of equal row count, each with exact bounds and population."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("bucket", F.ntile(N_BUCKETS).over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.floor(F.min("o_totalprice") * 100).cast("long").alias("lo_e2"),
            F.floor(F.max("o_totalprice") * 100).cast("long").alias("hi_e2"),
        )
    )


EQUIDEPTH_ORACLE = f"""
WITH b AS (
  SELECT o_totalprice,
         ntile({N_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders)
SELECT CAST(bucket AS INT) AS bucket,
       count(*) AS n_rows,
       CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS lo_e2,
       CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS hi_e2
FROM b GROUP BY 1
"""


def mcv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-common-value list for lineitem.l_quantity with the
    accompanying column-level stats every MCV consumer needs: total
    rows, distinct values, and each value's exact frequency ppm."""
    li = table(spark, sf_dir, "lineitem").select("l_quantity")
    counts = li.groupBy("l_quantity").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    w = Window.orderBy(F.desc("n"), F.asc("l_quantity"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MCV_K)
        .crossJoin(F.broadcast(tot))  # 1-row scalar, broadcast by design
        .select(
            F.floor(F.col("l_quantity") * 100).cast("long").alias("value_e2"),
            "n",
            "rank",
            "n_total",
            "n_distinct",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_total AS BIGINT)"
            ).alias("freq_ppm"),
        )
    )


MCV_ORACLE = f"""
WITH counts AS (
  SELECT l_quantity, count(*) AS n FROM lineitem GROUP BY 1),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM counts),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n DESC, l_quantity ASC) AS rank
  FROM counts)
SELECT CAST(floor(r.l_quantity * 100) AS BIGINT) AS value_e2,
       r.n,
       CAST(r.rank AS INT) AS rank,
       t.n_total,
       t.n_distinct,
       CAST(CAST(1000000 AS HUGEINT) * r.n // t.n_total AS BIGINT) AS freq_ppm
FROM ranked r, tot t
WHERE r.rank <= {MCV_K}
"""


#: deterministic sample percentage for the sampled ANALYZE path
SAMPLE_PCT = 20


def sampled_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of ``equidepth_histogram`` made concrete: the
    global sort that ntile needs runs over a DETERMINISTIC
    hash-threshold sample (md5 bucket < SAMPLE_PCT) instead of the
    full table — exactly how a warehouse ANALYZE bounds its sort
    input. Hash sampling (not ``TABLESAMPLE``) keeps the sample — and
    therefore the histogram — bit-identical across engines, runs,
    and partitionings."""
    from ..operators.corpusops import _hash_bucket

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .filter(_hash_bucket(F.col("o_orderkey"), "analyze|", 100) < SAMPLE_PCT)
    )
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("bucket", F.ntile(N_BUCKETS).over(w))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.floor(F.min("o_totalprice") * 100).cast("long").alias("lo_e2"),
            F.floor(F.max("o_totalprice") * 100).cast("long").alias("hi_e2"),
        )
    )


def _sampled_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    pred = _hash_bucket_sql("CAST(o_orderkey AS VARCHAR)", "analyze|", 100)
    return f"""
WITH s AS (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE {pred} < {SAMPLE_PCT}),
b AS (
  SELECT o_totalprice,
         ntile({N_BUCKETS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM s)
SELECT CAST(bucket AS INT) AS bucket,
       count(*) AS n_rows,
       CAST(floor(min(o_totalprice) * 100) AS BIGINT) AS lo_e2,
       CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS hi_e2
FROM b GROUP BY 1
"""


SAMPLED_HISTOGRAM_ORACLE = _sampled_oracle()


#: HLL relative standard deviation requested from approx_count_distinct
HLL_RSD = 0.02
#: certified accuracy bound, percent (generous vs 2% rsd: >2 sigma)
HLL_BOUND_PCT = 5


def hll_accuracy_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy certification: HyperLogLog distinct counts
    (``approx_count_distinct``, rsd 2%) against the exact distinct,
    per column family — emits the exact count and whether the sketch
    landed within ±5%.  This turns the rows-only "approx sketches
    exist" demo into a hash-certified accuracy CONTRACT: the oracle
    asserts the exact counts and ``TRUE`` bounds, so a sketch
    regression (or an rsd misconfiguration) flips the driver row red.

    Scale shape: both sides are single-pass map-side-combined
    aggregates; HLL is the one that still works when the exact
    distinct's shuffle won't."""
    e = table(spark, sf_dir, "events")
    li = table(spark, sf_dir, "lineitem")
    ev = e.agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", HLL_RSD).alias("n_approx"),
    ).select(
        F.lit("events.user_id").alias("column_name"),
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) * 100
            <= F.col("n_exact") * HLL_BOUND_PCT
        ).alias("within_bound"),
    )
    lo = li.agg(
        F.countDistinct("l_orderkey").alias("n_exact"),
        F.approx_count_distinct("l_orderkey", HLL_RSD).alias("n_approx"),
    ).select(
        F.lit("lineitem.l_orderkey").alias("column_name"),
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact")) * 100
            <= F.col("n_exact") * HLL_BOUND_PCT
        ).alias("within_bound"),
    )
    return ev.unionByName(lo)


HLL_ACCURACY_ORACLE = """
SELECT 'events.user_id' AS column_name,
       (SELECT count(DISTINCT user_id) FROM events) AS n_exact,
       TRUE AS within_bound
UNION ALL
SELECT 'lineitem.l_orderkey' AS column_name,
       (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
       TRUE AS within_bound
"""


#: freqItems support threshold (items with freq > support are
#: GUARANTEED present in the sketch result; false positives allowed)
FREQ_ITEMS_SUPPORT = 0.1


def freq_items_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent-items certification — the heavy-hitter
    sibling of `hll_accuracy_check`: ``df.stat.freqItems`` promises
    every value with true frequency > support appears in its result
    (false positives allowed, false negatives not).  We compute the
    EXACT heavy types and flag each one's presence in the sketch
    output; the oracle asserts the exact counts and TRUE containment,
    so a sketch regression flips the row red.

    Scale: the sketch is one merge-combinable pass with k=1/support
    counters per partition; the exact side is a catalog-bounded count
    aggregate."""
    e = table(spark, sf_dir, "events")
    sketch_items = set(
        e.stat.freqItems(["event_type"], FREQ_ITEMS_SUPPORT).collect()[0][0]
    )
    total = e.count()
    exact = (
        e.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") * 10 > F.lit(total))  # freq > 0.1 exactly
    )
    in_sketch = F.col("event_type").isin(*sketch_items) if sketch_items else F.lit(False)
    return exact.select("event_type", "n", in_sketch.alias("in_sketch"))


FREQ_ITEMS_ORACLE = """
WITH counts AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM events)
SELECT event_type, n, TRUE AS in_sketch
FROM counts, tot
WHERE n * 10 > n_total
"""


def hll_per_group_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL certification: per event_type, the EXACT distinct
    user count plus whether the per-group ``approx_count_distinct``
    landed within ±5% — `hll_accuracy_check` generalized from one
    global sketch to a sketch per group, which is how dashboards
    actually consume HLL (one counter per dimension value, merged
    across partitions)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_exact"),
            F.approx_count_distinct("user_id", HLL_RSD).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact")) * 100
                <= F.col("n_exact") * HLL_BOUND_PCT
            ).alias("within_bound"),
        )
    )


HLL_PER_GROUP_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_exact, TRUE AS within_bound
FROM events GROUP BY 1
"""


def decimal_money_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal money aggregation — TPC-H Q1's sums restated on
    Spark's ``DecimalType`` path instead of rounded doubles: prices
    cast to DECIMAL(12,2) at the scan, the discount factor to
    DECIMAL(3,2), so the discounted extension is an EXACT DECIMAL(16,4)
    product (scale grows, nothing rounds) and every sum is exact
    decimal arithmetic ending in integer cents / e4 units.

    This certifies the engine's decimal pipeline end-to-end (cast,
    multiply, sum, downcast) — the arithmetic a financial ledger
    requires where the double path's ulp drift is disqualifying.

    Overflow headroom: the e4 discounted sum is computed in the sum's
    own DECIMAL(26,4) accumulator and emitted via DECIMAL(38,0) — at
    ~1e12 rows × ~1e5 max price the total is ≤ 1e21 e4-units, inside
    DECIMAL(38) but past int64, so the emitted BIGINT is the e2
    (cents) quotient with ~1e16 headroom at 100 TB.

    Scale shape: identical to Q1 — one map-side-combined aggregate on
    (returnflag, linestatus), no join, no window.

    Reference parity: the reference stores money as Postgres floats
    (`CSV PARSER/gcp_csv.py:40-42`); this is the exact-ledger upgrade
    of the same totals."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_f = (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    return (
        li.select(
            "l_returnflag",
            "l_linestatus",
            price.alias("price_dec"),
            F.col("l_quantity").cast("decimal(12,2)").alias("qty_dec"),
            (price * disc_f).alias("disc_price_dec"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr(
                "CAST(CAST(sum(price_dec) * 100 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("price_cents"),
            F.expr(
                "CAST(CAST(sum(qty_dec) * 100 AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("qty_e2"),
            F.expr(
                "CAST(CAST(sum(disc_price_dec) * 100 AS DECIMAL(38,0)) DIV 1 AS BIGINT)"
            ).alias("disc_price_cents"),
        )
    )


DECIMAL_MONEY_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS price_cents,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS qty_e2,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
            * 100 AS DECIMAL(38,4)) // 1 AS BIGINT) AS disc_price_cents
FROM lineitem
GROUP BY 1, 2
"""


def parquet_agg_pushdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table stats: COUNT/MIN/MAX answered from parquet
    footer statistics with ``spark.sql.parquet.aggregatePushdown`` —
    at 100 TB this is the difference between touching every row group
    and touching only footers (the scan node shows
    ``PushedAggregation`` and reads zero data pages; the companion
    test asserts the plan carries it).

    Aggregate pushdown exists only on the DataSource V2 read path, so
    the scan is built AND executed inside a scoped conf window (V2
    parquet + aggregatePushdown), then both confs are restored — the
    rest of the engine keeps its default V1 scans.  The eager collect
    is 1 result row by construction (the aggregate), re-wrapped as a
    DataFrame; this is the same execute-then-wrap shape as the sink
    roundtrip queries.  Only integer keys are aggregated — float
    MIN/MAX pushdown is left off the surface on purpose (NaN/-0.0
    ordering in footer stats is a known engine-trap).

    Reference parity: the reference's only table stat is a row-count
    print after load (`CSV PARSER/gcp_csv.py:195`); this is the same
    audit made O(footers)."""
    import os as _os

    v1_key = "spark.sql.sources.useV1SourceList"
    push_key = "spark.sql.parquet.aggregatePushdown"
    prev_v1 = spark.conf.get(v1_key, None)
    prev_push = spark.conf.get(push_key, None)
    spark.conf.set(push_key, "true")
    spark.conf.set(v1_key, (prev_v1 or "").replace("parquet", ""))
    try:
        li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
        agg = li.agg(
            F.count("*").alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
            F.min("l_suppkey").alias("min_suppkey"),
            F.max("l_suppkey").alias("max_suppkey"),
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        if "PushedAggregation: [" not in plan:
            raise AssertionError(
                "parquet aggregate pushdown did not engage; scan plan:\n" + plan
            )
        rows = agg.collect()
        schema = agg.schema
    finally:
        if prev_v1 is None:
            spark.conf.unset(v1_key)
        else:
            spark.conf.set(v1_key, prev_v1)
        if prev_push is None:
            spark.conf.unset(push_key)
        else:
            spark.conf.set(push_key, prev_push)
    return spark.createDataFrame(rows, schema)


AGG_PUSHDOWN_ORACLE = """
SELECT count(*) AS n_rows,
       min(l_orderkey) AS min_orderkey,
       max(l_orderkey) AS max_orderkey,
       min(l_suppkey) AS min_suppkey,
       max(l_suppkey) AS max_suppkey
FROM lineitem
"""


#: integer dtypes that get exact min/max in the catalog sweep
_INT_TYPES = {"bigint", "int", "smallint", "tinyint"}


def ndv_catalog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-catalog ANALYZE: exact NDV, null count, and (for integer
    columns) min/max for EVERY column of EVERY fixture table — the
    statistics payload a cost-based optimizer loads, collected in ONE
    aggregate pass per table (all columns' stats in a single agg; the
    multiple exact count-distincts plan through one Expand — at 100 TB
    you'd swap exact NDV for HLL per the repo's
    ``hll_accuracy_check`` error contract, same single-pass shape).

    The wide per-table stats row is exploded back to one row per
    column so the output is a catalog table, not 10 ad-hoc schemas.

    Reference parity: the reference has no stats at all; this is the
    ANALYZE surface its tables need the moment a planner queries
    them."""
    from ..io import TABLES, table

    outs = []
    for tbl in TABLES:
        df = table(spark, sf_dir, tbl)
        dtypes = df.dtypes
        aggs = [F.count("*").alias("n_rows")]
        for c, t in dtypes:
            aggs.append(
                F.sum(F.col(c).isNull().cast("int")).cast("long").alias(f"nn__{c}")
            )
            aggs.append(F.countDistinct(c).alias(f"nd__{c}"))
            if t in _INT_TYPES:
                aggs.append(F.min(c).cast("long").alias(f"mn__{c}"))
                aggs.append(F.max(c).cast("long").alias(f"mx__{c}"))
        row = df.agg(*aggs)
        entries = []
        for c, t in dtypes:
            entries.append(
                F.struct(
                    F.lit(tbl).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    F.col("n_rows").alias("n_rows"),
                    F.col(f"nn__{c}").alias("n_nulls"),
                    F.col(f"nd__{c}").alias("ndv"),
                    (
                        F.col(f"mn__{c}")
                        if t in _INT_TYPES
                        else F.lit(None).cast("long")
                    ).alias("int_min"),
                    (
                        F.col(f"mx__{c}")
                        if t in _INT_TYPES
                        else F.lit(None).cast("long")
                    ).alias("int_max"),
                )
            )
        outs.append(row.select(F.explode(F.array(*entries)).alias("s")).select("s.*"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _ndv_oracle() -> str:
    # mirror of the fixture schema (checked against DESCRIBE); the
    # INT-typed min/max legs match _INT_TYPES
    catalog = {
        "region": [("r_regionkey", True), ("r_name", False)],
        "nation": [("n_nationkey", True), ("n_name", False), ("n_regionkey", True)],
        "customer": [("c_custkey", True), ("c_name", False), ("c_nationkey", True),
                     ("c_acctbal", False), ("c_mktsegment", False)],
        "supplier": [("s_suppkey", True), ("s_name", False), ("s_nationkey", True),
                     ("s_acctbal", False)],
        "part": [("p_partkey", True), ("p_name", False), ("p_brand", False),
                 ("p_type", False), ("p_size", True), ("p_retailprice", False)],
        "orders": [("o_orderkey", True), ("o_custkey", True), ("o_orderstatus", False),
                   ("o_totalprice", False), ("o_orderdate", False),
                   ("o_orderpriority", False)],
        "lineitem": [("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
                     ("l_linenumber", True), ("l_quantity", False),
                     ("l_extendedprice", False), ("l_discount", False),
                     ("l_tax", False), ("l_returnflag", False),
                     ("l_linestatus", False), ("l_shipdate", False)],
        "events": [("event_id", True), ("ts", False), ("user_id", True),
                   ("event_type", False), ("value", False), ("props", False)],
        "documents": [("doc_id", True), ("text", False), ("lang", False),
                      ("source", False), ("n_chars", True)],
        "embeddings": [("vec_id", True), ("embedding", False), ("label", True)],
    }
    legs = []
    for tbl, cols in catalog.items():
        for c, is_int in cols:
            mn = f"CAST(min({c}) AS BIGINT)" if is_int else "CAST(NULL AS BIGINT)"
            mx = f"CAST(max({c}) AS BIGINT)" if is_int else "CAST(NULL AS BIGINT)"
            legs.append(
                f"SELECT '{tbl}' AS table_name, '{c}' AS column_name,"
                f" count(*) AS n_rows,"
                f" CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,"
                f" count(DISTINCT {c}) AS ndv,"
                f" {mn} AS int_min, {mx} AS int_max"
                f" FROM {tbl}"
            )
    return "\nUNION ALL\n".join(legs)


NDV_CATALOG_ORACLE = _ndv_oracle()


#: portable-HLL geometry: 2^8 registers over a 60-bit md5-derived hash
HLL_B = 8
HLL_M = 1 << HLL_B
#: width of the rho field (60-bit hash minus the 8 bucket bits → 52,
#: scanned in a 52-char zero-padded binary string)
HLL_W = 52
#: floor(1e6 · α_256 · m²) with α_256 = 0.7213/(1 + 1.079/256)
HLL_ALPHA_M2_E6 = 47072712671


def hll_register_table(df: DataFrame, key_col: str) -> DataFrame:
    """The (bucket, rho) HLL register table of one key column —
    factored so the mergeability test can certify
    ``registers(A ∪ B) == max-merge(registers(A), registers(B))``
    exactly (register tables are deterministic, so mergeability is
    an equality, not an approximation)."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    x = df.select(h.alias("h")).select(
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("r"),
    )
    rho = F.when(F.col("r") == 0, F.lit(HLL_W + 1)).otherwise(
        F.instr(F.lpad(F.expr("bin(r)"), HLL_W, "0"), "1")
    )
    return (
        x.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def portable_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A HyperLogLog built ENTIRELY from relational operators with a
    bit-identical layout in both engines — the mergeable-sketch
    companion to ``portable_bloom_contract`` (Spark's own
    ``approx_count_distinct`` state is engine-private; this one
    serializes to a 256-row register table any engine can OR-merge).

    Per event_id: a 60-bit md5-derived hash splits into an 8-bit
    register index and a 52-bit rho field whose leading-zero count is
    taken EXACTLY via string scan (``instr(lpad(bin(r), 52, '0'),
    '1')`` — no float log anywhere).  Registers aggregate with MAX —
    associative/commutative, so the distributed build is map-side
    combined and vintage-mergeable.  The harmonic mean is kept
    integer-exact by scaling each register's 2^{-rho} contribution by
    2^53 (empty register → 2^53), and the cardinality estimate comes
    out of one DECIMAL(38,0) quotient with the α constant
    pre-multiplied to e6 — the companion test checks it against the
    true distinct count within HLL's 3σ error (3·1.04/√256 ≈ 20%).

    Output: register-table digest (registers used, Σrho, max rho),
    the exact scaled harmonic sum, and the integer estimate."""
    e = table(spark, sf_dir, "events")
    regs = hll_register_table(e, "event_id")
    # all m registers: empty ones contribute rho = 0 (2^53 scaled)
    contrib = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_W + 1} - rho AS INT))")
    return regs.agg(
        F.count("*").alias("registers_used"),
        F.sum("rho").cast("long").alias("rho_sum"),
        F.max("rho").alias("rho_max"),
        (
            F.sum(contrib)
            + (F.lit(HLL_M) - F.count("*")) * F.lit(1 << (HLL_W + 1)).cast("long")
        ).alias("harmonic_scaled"),
    ).select(
        "registers_used",
        "rho_sum",
        "rho_max",
        "harmonic_scaled",
        F.expr(
            f"CAST(CAST({HLL_ALPHA_M2_E6} AS DECIMAL(38,0))"
            f" * {1 << (HLL_W + 1)} DIV harmonic_scaled DIV 1000000 AS BIGINT)"
        ).alias("estimate"),
    )


def _hex15_sql(var: str) -> str:
    """Big-endian int of the first 15 hex chars of ``var`` (60 bits —
    the DuckDB mirror of ``conv(substring(x, 1, 15), 16, 10)``)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({var}, {1 + k}, 1)) - 1) * {16 ** (14 - k)}"
        for k in range(15)
    )


PORTABLE_HLL_ORACLE = f"""
WITH h AS (
  SELECT ({_hex15_sql("md5(CAST(event_id AS VARCHAR))")}) AS h
  FROM events),
x AS (
  SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS r FROM h),
rr AS (
  SELECT bucket,
         CASE WHEN r = 0 THEN {HLL_W + 1}
              ELSE strpos(lpad(bin(r), {HLL_W}, '0'), '1') END AS rho
  FROM x),
regs AS (SELECT bucket, max(rho) AS rho FROM rr GROUP BY 1)
SELECT count(*) AS registers_used,
       CAST(sum(rho) AS BIGINT) AS rho_sum,
       CAST(max(rho) AS BIGINT) AS rho_max,
       CAST(sum(CAST(1 AS BIGINT) << CAST({HLL_W + 1} - rho AS INT))
            + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {HLL_W + 1})
            AS BIGINT) AS harmonic_scaled,
       CAST(CAST({HLL_ALPHA_M2_E6} AS HUGEINT)
            * (CAST(1 AS BIGINT) << {HLL_W + 1})
            // (sum(CAST(1 AS BIGINT) << CAST({HLL_W + 1} - rho AS INT))
                + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {HLL_W + 1}))
            // 1000000 AS BIGINT) AS estimate
FROM regs
"""


def hll_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance contract for the portable HyperLogLog
    — the cardinality member of the upsert ≡ rebuild family (Bloom
    OR-merges, KMV bottom-k-merges, the Gram adds; HLL MAX-merges):
    register tables are per-bucket maxima, so
    ``max-merge(regs(A), regs(B)) == regs(A ∪ B)`` holds EXACTLY for
    any split of the key stream — the property that lets per-vintage
    sketches roll up to any time range at 100 TB without touching
    raw data.  Split: interleaved even/odd event_id (stricter than
    append-only); the contract compares every register against the
    one-shot rebuild and emits checksums the oracle re-derives from
    the key stream alone.  The pytest mergeability pin
    (test_stats.py) checks the same algebra in-process; this query
    makes it a DRIVER-CERTIFIED row like the rest of the family."""
    from ..io import swap_cache

    e = table(spark, sf_dir, "events")
    # persist the two partial register tables (HLL_M-bounded — the
    # stored sketch states): the MAX-merge and the register-count
    # audit both consume each side; un-persisted the member hash pass
    # re-ran per consumer — 5 events scans in this plan (r14 scan
    # sweep; guide §2.4); 3 after, the contract's three builds
    base, delta = swap_cache(
        "stats.hll_upsert_parts",
        hll_register_table(
            e.filter(F.col("event_id") % 2 == 0), "event_id"
        ),
        hll_register_table(
            e.filter(F.col("event_id") % 2 == 1), "event_id"
        ),
    )
    merged = (
        base.unionByName(delta)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    full = hll_register_table(e, "event_id")
    cmp = (
        merged.select("bucket", F.col("rho").alias("rm"))
        .join(
            full.select("bucket", F.col("rho").alias("rf")),
            "bucket",
            "full",
        )
        .agg(
            F.count("*").cast("long").alias("n_registers"),
            F.sum(
                (
                    F.coalesce(F.col("rm"), F.lit(-1))
                    != F.coalesce(F.col("rf"), F.lit(-2))
                ).cast("long")
            )
            .cast("long")
            .alias("n_mismatch"),
            F.sum(
                F.coalesce(F.col("rm"), F.lit(0))
                + F.col("bucket") * 64
            )
            .cast("long")
            .alias("merged_checksum"),
            F.sum(
                F.coalesce(F.col("rf"), F.lit(0))
                + F.col("bucket") * 64
            )
            .cast("long")
            .alias("rebuild_checksum"),
        )
    )
    counts = base.agg(
        F.count("*").cast("long").alias("n_registers_base")
    ).crossJoin(
        F.broadcast(
            delta.agg(F.count("*").cast("long").alias("n_registers_delta"))
        )
    )
    return cmp.crossJoin(F.broadcast(counts)).select(
        "n_registers",
        "n_registers_base",
        "n_registers_delta",
        "n_mismatch",
        "merged_checksum",
        "rebuild_checksum",
        (F.col("n_mismatch") == 0).cast("int").alias("merge_equals_rebuild"),
    )


HLL_UPSERT_ORACLE = f"""
WITH h AS (
  SELECT event_id,
         ({_hex15_sql("md5(CAST(event_id AS VARCHAR))")}) AS h
  FROM events),
x AS (
  SELECT event_id, h % {HLL_M} AS bucket, h // {HLL_M} AS r FROM h),
rr AS (
  SELECT event_id, bucket,
         CASE WHEN r = 0 THEN {HLL_W + 1}
              ELSE strpos(lpad(bin(r), {HLL_W}, '0'), '1') END AS rho
  FROM x),
regs AS (SELECT bucket, max(rho) AS rho FROM rr GROUP BY 1),
rb AS (SELECT bucket FROM rr WHERE event_id % 2 = 0 GROUP BY 1),
rd AS (SELECT bucket FROM rr WHERE event_id % 2 = 1 GROUP BY 1)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM regs) AS n_registers,
       (SELECT CAST(count(*) AS BIGINT) FROM rb) AS n_registers_base,
       (SELECT CAST(count(*) AS BIGINT) FROM rd) AS n_registers_delta,
       CAST(0 AS BIGINT) AS n_mismatch,
       (SELECT CAST(sum(rho + bucket * 64) AS BIGINT) FROM regs)
         AS merged_checksum,
       (SELECT CAST(sum(rho + bucket * 64) AS BIGINT) FROM regs)
         AS rebuild_checksum,
       1 AS merge_equals_rebuild
"""


#: split-conformal geometry: miscoverage α = NUM/DEN and the
#: calibration/test split bucket (user-hash < 50 → calibration)
CONF_A_NUM, CONF_A_DEN = 1, 10
CONF_CAL_PCT = 50


def conformal_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction gate (Vovk et al.; the
    distribution-free upper bound every ML-ops anomaly gate should
    use instead of a hand-tuned z-score): per event type, the
    calibration split's ⌈(n+1)(1−α)⌉-th smallest value becomes the
    threshold, and exchangeability alone guarantees the test split's
    coverage ≥ 1−α in expectation — no normality assumption, unlike
    `mad_outliers`' robust-z cousins.  All integer: values on the e4
    grid, the conformal rank k = ⌈(n+1)(1−α)⌉ by ceiling division,
    coverage in floor ppm.

    Scale shape: the k-th order statistic per type is NOT a per-type
    sort — the (type, value) grid takes the bucketed two-level
    exclusive-cum (the two-sample/spearman spine pattern,
    partitionBy(type, bucket) + a type-keyed offset frame), and the
    threshold is min value whose inclusive cum clears k (one
    aggregate).  The test-side audit is a broadcast threshold join.
    """
    from ..io import swap_cache

    e = table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1e4).cast("long").alias("v"),
        _stats_hash_bucket(F.col("user_id").cast("string"), "conf|", 100)
        .alias("b"),
    )
    e = swap_cache("stats.conformal_rows", e)
    cal = e.filter(F.col("b") < CONF_CAL_PCT)
    grid = cal.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("c")
    ).withColumn("bkt", (F.col("v") / SPEAR_BUCKET_W).cast("long"))
    wloc = Window.partitionBy("event_type", "bkt").orderBy("v")
    woff = Window.partitionBy("event_type").orderBy("bkt")
    boff = grid.groupBy("event_type", "bkt").agg(
        F.sum("c").alias("bc")
    ).select(
        "event_type",
        "bkt",
        F.coalesce(
            F.sum("bc").over(woff.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("off"),
    )
    cums = grid.join(F.broadcast(boff), ["event_type", "bkt"]).select(
        "event_type",
        "v",
        (
            F.coalesce(
                F.sum("c").over(
                    wloc.rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            )
            + F.col("off")
        )
        .cast("long")
        .alias("cum_incl"),
    )
    k = cal.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_cal")
    ).select(
        "event_type",
        "n_cal",
        F.expr(
            f"((n_cal + 1) * ({CONF_A_DEN} - {CONF_A_NUM})"
            f" + {CONF_A_DEN - 1}) DIV {CONF_A_DEN}"
        )
        .cast("long")
        .alias("k_rank"),
    )
    thr = (
        cums.join(F.broadcast(k), "event_type")
        .filter(F.col("cum_incl") >= F.col("k_rank"))
        .groupBy("event_type")
        .agg(F.min("v").cast("long").alias("threshold_e4"))
        .join(F.broadcast(k), "event_type")
    )
    test = e.filter(F.col("b") >= CONF_CAL_PCT)
    return (
        test.join(F.broadcast(thr), "event_type")
        .groupBy("event_type", "n_cal", "k_rank", "threshold_e4")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum((F.col("v") <= F.col("threshold_e4")).cast("long"))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "event_type",
            "n_cal",
            "k_rank",
            "threshold_e4",
            "n_test",
            "n_covered",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_covered"
                " DIV n_test AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


def _stats_hash_bucket(key, salt: str, mod: int):
    from ..operators.corpusops import _hash_bucket

    return _hash_bucket(key, salt, mod)


def _conformal_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    b = _hash_bucket_sql("CAST(user_id AS VARCHAR)", "conf|", 100)
    return f"""
WITH e AS (
  SELECT event_type,
         CAST(floor(value * 1e4) AS BIGINT) AS v,
         {b} AS b
  FROM events),
cal AS (SELECT * FROM e WHERE b < {CONF_CAL_PCT}),
k AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal,
         ((count(*) + 1) * ({CONF_A_DEN} - {CONF_A_NUM})
          + {CONF_A_DEN - 1}) // {CONF_A_DEN} AS k_rank
  FROM cal GROUP BY 1),
cums AS (
  SELECT event_type, v,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_incl
  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
        FROM cal GROUP BY 1, 2)),
thr AS (
  SELECT c.event_type, CAST(min(c.v) AS BIGINT) AS threshold_e4
  FROM cums c JOIN k USING (event_type)
  WHERE c.cum_incl >= k.k_rank
  GROUP BY 1)
SELECT t.event_type, k.n_cal, CAST(k.k_rank AS BIGINT) AS k_rank,
       thr.threshold_e4,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN t.v <= thr.threshold_e4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_covered,
       CAST(CAST(1000000 AS HUGEINT)
            * sum(CASE WHEN t.v <= thr.threshold_e4 THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS coverage_ppm
FROM e t JOIN thr USING (event_type) JOIN k USING (event_type)
WHERE t.b >= {CONF_CAL_PCT}
GROUP BY 1, 2, 3, 4
"""


#: rolling-distinct window width (days) for hll_rolling_distinct
HLL_ROLL_DAYS = 7

#: linear-counting table for HLL's small-range correction:
#: floor(1e6·ln(m/V)) for V = 1..m empty registers — computed ONCE
#: here and injected as literals into BOTH engines, so no runtime ln
#: ulp can diverge (the BENFORD_PPM discipline)
HLL_LINEAR_E6 = [
    math.floor(1e6 * math.log(HLL_M / v)) for v in range(1, HLL_M + 1)
]


def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE mergeable-sketch use case: rolling 7-day distinct users
    per day WITHOUT re-scanning raw data — per-day HLL register
    vintages MAX-merge across the window (the algebra
    ``hll_upsert_equivalence`` certifies), so a 100 TB events table
    answers every rolling window from days × 256 register rows.
    The exact rolling distinct rides alongside (here checkable; at
    scale it is the O(window · data) recompute the sketch replaces)
    with the signed error in ppm — the accuracy-vs-cost readout that
    justifies the sketch.

    Scale shape: one corpus pass builds the per-day vintages
    (groupBy(day, bucket) MAX); the rolling merge is a 7-way explode
    over the DAYS×256 register table (calendar-bounded); the exact
    side is one distinct + a 7-way explode over (day, user) pairs.
    All integers — the estimate is the portable-HLL DECIMAL(38,0)
    quotient, bit-identical cross-engine."""
    e = table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    x = e.select("day", h.alias("h")).select(
        "day",
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("r"),
    )
    rho = F.when(F.col("r") == 0, F.lit(HLL_W + 1)).otherwise(
        F.instr(F.lpad(F.expr("bin(r)"), HLL_W, "0"), "1")
    )
    vintages = (
        x.select("day", "bucket", rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    # each vintage day serves the next HLL_ROLL_DAYS report days
    fan = vintages.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(HLL_ROLL_DAYS - 1))
        ).alias("off"),
        F.expr("date_add(day, off)").alias("rday"),
        "bucket",
        "rho",
    )
    # only report days whose full lineage exists (clip to the data's
    # day range so partial leading windows don't skew); persisted —
    # the sketch-side and exact-side clips both consume it, and
    # un-persisted each re-scanned events (r14 scan sweep: 4 events
    # scans; 3 after — vintages, days, and the deliberate exact
    # companion)
    from ..io import swap_cache as _swap

    days = _swap("stats.hll_roll_days", e.select("day").distinct())
    merged = (
        fan.join(days.withColumnRenamed("day", "rday"), "rday")
        .groupBy("rday", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    contrib = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({HLL_W + 1} - rho AS INT))"
    )
    # standard small-range (linear counting) branch: with V > 0 empty
    # registers and a raw estimate <= 2.5m, est = m·ln(m/V) — the
    # raw harmonic estimator is badly biased at low cardinality
    # (measured 189 vs exact 15 before the branch).  ln comes from
    # the precomputed HLL_LINEAR_E6 literal table, never runtime.
    lin = F.element_at(
        F.array(*[F.lit(x) for x in HLL_LINEAR_E6]), F.col("n_empty")
    )
    est = merged.groupBy("rday").agg(
        (
            F.sum(contrib)
            + (F.lit(HLL_M) - F.count("*"))
            * F.lit(1 << (HLL_W + 1)).cast("long")
        ).alias("harmonic_scaled"),
        (F.lit(HLL_M) - F.count("*")).cast("int").alias("n_empty"),
    ).select(
        "rday",
        "n_empty",
        F.expr(
            f"CAST(CAST({HLL_ALPHA_M2_E6} AS DECIMAL(38,0))"
            f" * {1 << (HLL_W + 1)} DIV harmonic_scaled DIV 1000000"
            " AS BIGINT)"
        ).alias("raw_est"),
    ).select(
        "rday",
        F.when(
            (F.col("n_empty") > 0)
            & (F.col("raw_est") * 2 <= 5 * HLL_M),
            (F.lit(HLL_M).cast("long") * lin - F.pmod(
                F.lit(HLL_M).cast("long") * lin, F.lit(1_000_000)
            )) / F.lit(1_000_000),
        )
        .otherwise(F.col("raw_est"))
        .cast("long")
        .alias("est_distinct"),
    )
    exact = (
        e.distinct()
        .select(
            F.explode(
                F.sequence(F.lit(0), F.lit(HLL_ROLL_DAYS - 1))
            ).alias("off"),
            F.expr("date_add(day, off)").alias("rday"),
            "user_id",
        )
        .join(days.withColumnRenamed("day", "rday"), "rday")
        .groupBy("rday")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "rday").select(
        F.col("rday").cast("string").alias("day"),
        "est_distinct",
        "exact_distinct",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (est_distinct"
            " - exact_distinct) DIV exact_distinct AS BIGINT)"
        ).alias("err_ppm"),
    )


HLL_ROLLING_ORACLE = f"""
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
h AS (
  SELECT day, ({_hex15_sql("md5(CAST(user_id AS VARCHAR))")}) AS h
  FROM e),
x AS (
  SELECT day, h % {HLL_M} AS bucket, h // {HLL_M} AS r FROM h),
rr AS (
  SELECT day, bucket,
         CASE WHEN r = 0 THEN {HLL_W + 1}
              ELSE strpos(lpad(bin(r), {HLL_W}, '0'), '1') END AS rho
  FROM x),
vint AS (SELECT day, bucket, max(rho) AS rho FROM rr GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM e),
fan AS (
  SELECT day + CAST(t.o AS INT) AS rday, bucket, rho
  FROM vint, range(0, {HLL_ROLL_DAYS}) t(o)),
merged AS (
  SELECT f.rday, f.bucket, max(f.rho) AS rho
  FROM fan f JOIN days d ON d.day = f.rday
  GROUP BY 1, 2),
raw AS (
  SELECT rday,
         CAST({HLL_M} - count(*) AS INT) AS n_empty,
         CAST(CAST({HLL_ALPHA_M2_E6} AS HUGEINT)
              * (CAST(1 AS BIGINT) << {HLL_W + 1})
              // (sum(CAST(1 AS BIGINT) << CAST({HLL_W + 1} - rho AS INT))
                  + ({HLL_M} - count(*))
                    * (CAST(1 AS BIGINT) << {HLL_W + 1}))
              // 1000000 AS BIGINT) AS raw_est
  FROM merged GROUP BY 1),
est AS (
  SELECT rday,
         CAST(CASE WHEN n_empty > 0 AND raw_est * 2 <= 5 * {HLL_M}
                   THEN ({HLL_M} * ([{", ".join(str(x) for x in HLL_LINEAR_E6)}])[n_empty]) // 1000000
                   ELSE raw_est END AS BIGINT) AS est_distinct
  FROM raw),
ex AS (
  SELECT f.rday, CAST(count(DISTINCT f.user_id) AS BIGINT) AS exact_distinct
  FROM (SELECT DISTINCT day, user_id FROM e) du,
       LATERAL (SELECT du.day + CAST(t.o AS INT) AS rday, du.user_id
                FROM range(0, {HLL_ROLL_DAYS}) t(o)) f
  JOIN days d ON d.day = f.rday
  GROUP BY 1)
SELECT CAST(est.rday AS VARCHAR) AS day,
       est.est_distinct,
       ex.exact_distinct,
       CAST(CAST(1000000 AS HUGEINT) * (est.est_distinct - ex.exact_distinct)
            // ex.exact_distinct AS BIGINT) AS err_ppm
FROM est JOIN ex ON est.rday = ex.rday
"""


#: KMV (bottom-k minimum values / theta-sketch) geometry: the k
#: smallest 60-bit md5-derived distinct-key hashes.  k = 64 so the
#: fixture exercises BOTH estimator branches tri-scale: sf0.001 has
#: 15 distinct users per event type (< k → the exact branch), sf0.01+
#: have 150+ (> k → the (k-1)·2^60/τ branch).
KMV_K = 64
#: salt fan-out for the first tournament stage (bounds the per-window
#: sort group so the 5-key group column never concentrates the shuffle)
KMV_SALT = 32
#: hash domain: 60 bits (15 hex chars of md5), matching the HLL hash
KMV_DOM = 1 << 60


def kmv_sketch_table(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group KMV sketch: the ``KMV_K`` smallest distinct 60-bit
    hashes of ``key_col`` as one sorted array per group — the
    bottom-k / theta-sketch state (Bar-Yossef et al. 2002; Beyer et
    al. SIGMOD'07), DETERMINISTIC given the data (unlike HLL's
    register estimate this sketch IS a set, so mergeability and the
    set-operation algebra are exact equalities on the sketch).

    Scale shape: the only corpus-sized work is the map-side-combined
    ``distinct`` on (group, hash); bottom-k then runs as a SALTED
    two-stage tournament — rank within (group, hash % KMV_SALT) keeps
    ≤ salt·k survivors per group, the final rank within group sorts
    only those — so the handful of group keys never concentrates a
    corpus-sized sort the way a bare ``Window.partitionBy(group)``
    would (the same tournament shape as ``bm25_rational_topk``).
    The closing ``collect_list`` gathers ≤ k rows per group — sketch
    state, bounded by construction."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    dh = df.select(F.col(group_col).alias("grp"), h.alias("h")).distinct()
    w1 = Window.partitionBy("grp", F.col("h") % KMV_SALT).orderBy("h")
    surv = (
        dh.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= KMV_K)
        .drop("r1")
    )
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        surv.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= KMV_K)
        .groupBy("grp")
        .agg(F.sort_array(F.collect_list("h")).alias("ks"))
    )


def portable_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA from KMV sketches, engine-portable: for
    every unordered pair of event types, the union / intersection /
    Jaccard estimates derived purely from the two bottom-k sketches
    of their user_id sets — the theta-sketch workflow (union = bottom
    k of the merged sketch; ρ = fraction of the union sketch present
    in both inputs; |A∩B| ≈ ρ·|A∪B|), kept integer-exact so both
    engines emit bit-identical rows.

    This is the set-operation companion to ``portable_hll_registers``
    (HLL unions but cannot intersect; KMV does both), and the sketch
    a corpus pipeline ships per vintage/source so audience-overlap /
    vintage-churn questions are answered from kilobyte sketches
    instead of corpus joins.

    Estimator branches (both deterministic, both certified): when the
    union sketch holds fewer than k hashes the inputs were complete
    sets and the values are EXACT; at k the estimate is
    ``(k-1)·2^60 DIV τ`` with τ the k-th smallest union hash
    (DECIMAL(38,0) / HUGEINT — (k-1)·2^60 ≈ 7.3e19 overflows int64).

    Scale shape: sketch build per :func:`kmv_sketch_table`; the pair
    stage is a broadcast self-join of #groups sketch rows with all
    array algebra row-local over ≤ 2k-element arrays."""
    e = table(spark, sf_dir, "events")
    sk = kmv_sketch_table(e, "event_type", "user_id")
    a = sk.select(F.col("grp").alias("type_a"), F.col("ks").alias("ka"))
    b = sk.select(F.col("grp").alias("type_b"), F.col("ks").alias("kb"))
    pairs = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .withColumn(
            "uk",
            F.slice(
                F.array_sort(F.array_distinct(F.concat("ka", "kb"))),
                1,
                KMV_K,
            ),
        )
        .withColumn(
            "n_common",
            F.size(
                F.array_intersect(F.array_intersect("uk", "ka"), "kb")
            ).cast("long"),
        )
        .withColumn(
            "est_union",
            F.when(
                F.size("uk") < KMV_K, F.size("uk").cast("long")
            ).otherwise(
                F.expr(
                    f"CAST(CAST({KMV_K - 1} AS DECIMAL(38,0)) * {KMV_DOM}"
                    f" DIV element_at(uk, {KMV_K}) AS BIGINT)"
                )
            ),
        )
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.size("ka").cast("long").alias("n_a"),
        F.size("kb").cast("long").alias("n_b"),
        F.size("uk").cast("long").alias("n_union_sketch"),
        F.element_at("uk", F.size("uk")).alias("tau"),
        "est_union",
        "n_common",
        F.expr(
            "CAST(CAST(n_common AS DECIMAL(38,0)) * est_union"
            " DIV size(uk) AS BIGINT)"
        ).alias("est_intersect"),
        F.expr("1000000 * n_common DIV size(uk)")
        .cast("long")
        .alias("jaccard_ppm"),
    )


PORTABLE_KMV_ORACLE = f"""
WITH dh AS (
  SELECT DISTINCT event_type AS grp,
         ({_hex15_sql("md5(CAST(user_id AS VARCHAR))")}) AS h
  FROM events),
r AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM dh),
sk AS (
  SELECT grp, list_sort(list(h)) AS ks FROM r WHERE rn <= {KMV_K}
  GROUP BY 1),
p AS (
  SELECT a.grp AS type_a, b.grp AS type_b, a.ks AS ka, b.ks AS kb,
         (list_sort(list_distinct(list_concat(a.ks, b.ks))))[1:{KMV_K}] AS uk
  FROM sk a JOIN sk b ON a.grp < b.grp),
x AS (
  SELECT type_a, type_b, ka, kb, uk,
         CAST(len(list_intersect(list_intersect(uk, ka), kb)) AS BIGINT)
           AS n_common,
         CAST(CASE WHEN len(uk) < {KMV_K} THEN len(uk)
              ELSE CAST({KMV_K - 1} AS HUGEINT) * {KMV_DOM} // uk[{KMV_K}]
              END AS BIGINT) AS est_union
  FROM p)
SELECT type_a, type_b,
       CAST(len(ka) AS BIGINT) AS n_a,
       CAST(len(kb) AS BIGINT) AS n_b,
       CAST(len(uk) AS BIGINT) AS n_union_sketch,
       CAST(uk[len(uk)] AS BIGINT) AS tau,
       est_union,
       n_common,
       CAST(CAST(n_common AS HUGEINT) * est_union // len(uk) AS BIGINT)
         AS est_intersect,
       CAST(1000000 * n_common // len(uk) AS BIGINT) AS jaccard_ppm
FROM x
"""


#: q-digest geometry: 16-level binary tree over the centi-unit value
#: grid [0, 2^16) — events.value spans [0.01, 490.02] → grid ≤ 49002,
#: with a documented LEAST(·, 65535) clamp for out-of-range inputs
QD_L = 16
QD_DOM = 1 << QD_L
#: compression parameter k: merge threshold T = max(1, n DIV k);
#: rank error is bounded by L·T ≈ 16n/256 = n/16 (pinned in pytest)
QD_K = 256
#: quantiles the deploy table reports, in ppm
QD_QS = (250000, 500000, 750000, 950000)
#: Mersenne modulus for the digest checksum (fits BIGINT)
QD_MOD = (1 << 61) - 1


def _qdigest_compress(pdf):
    """Level-synchronous q-digest compression (numpy, pure integer —
    deterministic): for level l = L..1, group the level-l nodes by
    parent; a family whose count sum ≤ T merges into the parent
    (which then competes at level l-1), else its children are FINAL
    sketch nodes.  This is Shrivastava et al. 2004's bottom-up
    compress restated level-synchronously (the paper walks node-by-
    node; the synchronous rule is order-free, hence portable — the
    DuckDB oracle replays the identical rule as 16 generated CTE
    levels).  Input is the domain-bounded leaf histogram (≤ 2^16
    rows BY CONSTRUCTION — this is sketch-state compute, not corpus
    work; the corpus-sized pass is the map-side-combined groupBy
    that produced the histogram)."""
    import numpy as np
    import pandas as pd

    ids = pdf["id"].to_numpy(np.int64)
    cnt = pdf["cnt"].to_numpy(np.int64)
    n = int(cnt.sum())
    t = max(1, n // QD_K)
    out_ids, out_cnt = [], []
    cur_i, cur_c = ids, cnt
    for _level in range(QD_L, 0, -1):
        if cur_i.size == 0:
            break
        p = cur_i // 2
        order = np.argsort(p, kind="stable")
        ps, cs, is_ = p[order], cur_c[order], cur_i[order]
        uniq, idx = np.unique(ps, return_index=True)
        fam_sum = np.add.reduceat(cs, idx)
        merges = fam_sum <= t
        child_fam = np.searchsorted(uniq, ps)
        keep = ~merges[child_fam]
        out_ids.append(is_[keep])
        out_cnt.append(cs[keep])
        cur_i, cur_c = uniq[merges], fam_sum[merges]
    out_ids.append(cur_i)
    out_cnt.append(cur_c)
    return pd.DataFrame(
        {"id": np.concatenate(out_ids), "cnt": np.concatenate(out_cnt)}
    )


def qdigest_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q-digest node table of events.value on the centi-unit
    grid: ONE corpus-sized map-side-combined groupBy builds the
    domain-bounded leaf histogram; compression then runs in a single
    Arrow-batched :func:`_qdigest_compress` group (deliberate single
    group — the input is ≤ 2^16 rows by construction, the same
    'sketch-state is small' posture as the portable HLL register
    table)."""
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    leaf = (
        e.select(
            (
                F.lit(QD_DOM)
                + F.greatest(
                    F.lit(0),
                    F.least(
                        F.floor(F.col("value") * 100 + F.lit(0.5)).cast(
                            "int"
                        ),
                        F.lit(QD_DOM - 1),
                    ),
                )
            ).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    return (
        leaf.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandas(lambda _k, pdf: _qdigest_compress(pdf), "id long, cnt long")
    )


def portable_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates read off the portable q-digest — the
    MERGEABLE quantile sketch completing the portable family (Bloom:
    membership; HLL: distinct; Count-Min: frequency; KMV: set
    algebra; q-digest: quantiles).  Unlike KLL/t-digest the q-digest
    is DETERMINISTIC (no randomness, no merge-order sensitivity), so
    both engines emit bit-identical sketches and estimates — the
    property that lets a 100 TB pipeline ship per-partition digests
    and an engine-agnostic consumer merge + query them.

    Extraction (portable, certified): nodes sorted by (hi, lo, id);
    running count; for each q the estimate is the range-max of the
    first node whose cumulative count reaches ceil(q·n) — since hi
    is non-decreasing along the sort, that is min(hi) over eligible
    nodes, a plain aggregate in both engines.  Rank-error bound
    L·(n DIV k) is pinned by the companion pytest against the exact
    CDF.

    Plan: sketch-sized throughout after the histogram pass; the
    4-row quantile table broadcasts onto the node table (the
    sanctioned broadcast-query-set non-equi shape), and the global
    cumulative window runs over ≤ ~3k sketch nodes (whitelisted —
    sketch-sized by construction)."""
    nodes = qdigest_nodes(spark, sf_dir)
    lv = nodes.select(
        "id",
        "cnt",
        F.expr("CAST(floor(log2(id)) AS INT)").alias("lvl"),
    ).select(
        "id",
        "cnt",
        F.expr(
            f"(id - (CAST(1 AS BIGINT) << lvl))"
            f" * (CAST(1 AS BIGINT) << ({QD_L} - lvl))"
        ).alias("lo"),
        F.expr(
            f"(id - (CAST(1 AS BIGINT) << lvl) + 1)"
            f" * (CAST(1 AS BIGINT) << ({QD_L} - lvl)) - 1"
        ).alias("hi"),
    )
    cum = lv.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("hi", "lo", "id"))
    )
    glob = nodes.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.greatest(
            F.lit(1).cast("long"), F.expr(f"sum(cnt) DIV {QD_K}")
        ).alias("t_thresh"),
        F.count("*").cast("long").alias("n_nodes"),
        F.expr(
            f"CAST(sum(CAST(id AS DECIMAL(38,0)) * cnt) % {QD_MOD} AS BIGINT)"
        ).alias("nodes_checksum"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q).cast("long") for q in QD_QS])
        ).alias("q_ppm")
    )
    targets = glob.crossJoin(F.broadcast(qs)).withColumn(
        "target", F.expr("(q_ppm * n_total + 999999) DIV 1000000")
    )
    return (
        cum.join(F.broadcast(targets), F.col("cum") >= F.col("target"))
        .groupBy("q_ppm", "n_total", "t_thresh", "n_nodes", "nodes_checksum")
        .agg(F.min("hi").cast("long").alias("est_grid"))
        .select(
            "q_ppm", "est_grid", "n_total", "t_thresh", "n_nodes",
            "nodes_checksum",
        )
    )


def _qdigest_levels_sql() -> str:
    """The 16 generated compression levels as chained CTEs — the
    DuckDB replay of :func:`_qdigest_compress` (same level-
    synchronous rule, same T, same pass-through semantics)."""
    parts = []
    for l in range(QD_L, 0, -1):
        lo, hi = 1 << l, 1 << (l + 1)
        parts.append(
            f"f{l} AS MATERIALIZED (\n"
            f"  SELECT id // 2 AS p, CAST(sum(cnt) AS BIGINT) AS csum\n"
            f"  FROM s{l} WHERE id >= {lo} AND id < {hi} GROUP BY 1),\n"
            f"s{l - 1} AS MATERIALIZED (\n"
            f"  SELECT id, cnt FROM s{l} WHERE id < {lo} OR id >= {hi}\n"
            f"  UNION ALL\n"
            f"  SELECT c.id, c.cnt FROM s{l} c JOIN f{l} f ON c.id // 2 = f.p,"
            f" tot\n"
            f"    WHERE c.id >= {lo} AND c.id < {hi} AND f.csum > tot.t\n"
            f"  UNION ALL\n"
            f"  SELECT f.p AS id, f.csum AS cnt FROM f{l} f, tot"
            f" WHERE f.csum <= tot.t)"
        )
    return ",\n".join(parts)


PORTABLE_QDIGEST_ORACLE = f"""
WITH s{QD_L} AS MATERIALIZED (
  SELECT {QD_DOM} + greatest(0, least(CAST(floor(value * 100 + 0.5) AS INT),
                                      {QD_DOM - 1})) AS id,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         greatest(1, CAST(sum(cnt) AS BIGINT) // {QD_K}) AS t
  FROM s{QD_L}),
{_qdigest_levels_sql()},
nodes AS (
  SELECT id, cnt, CAST(floor(log2(id)) AS INT) AS lvl FROM s0),
rng AS (
  SELECT id, cnt,
         (id - (CAST(1 AS BIGINT) << lvl))
           * (CAST(1 AS BIGINT) << ({QD_L} - lvl)) AS lo,
         (id - (CAST(1 AS BIGINT) << lvl) + 1)
           * (CAST(1 AS BIGINT) << ({QD_L} - lvl)) - 1 AS hi
  FROM nodes),
cum AS (
  SELECT *, sum(cnt) OVER (ORDER BY hi, lo, id) AS cum FROM rng),
gl AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
         greatest(1, CAST(sum(cnt) AS BIGINT) // {QD_K}) AS t_thresh,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(CAST(id AS HUGEINT) * cnt) % {QD_MOD} AS BIGINT)
           AS nodes_checksum
  FROM nodes),
qs AS (SELECT CAST(unnest({list(QD_QS)}) AS BIGINT) AS q_ppm),
tg AS (
  SELECT q_ppm, n_total, t_thresh, n_nodes, nodes_checksum,
         (q_ppm * n_total + 999999) // 1000000 AS target
  FROM gl, qs)
SELECT tg.q_ppm,
       CAST(min(c.hi) AS BIGINT) AS est_grid,
       tg.n_total, tg.t_thresh, tg.n_nodes, tg.nodes_checksum
FROM tg JOIN cum c ON c.cum >= tg.target
GROUP BY 1, 3, 4, 5, 6
"""


#: Mersenne modulus for the exact-arithmetic witness columns
SPEAR_MOD = (1 << 61) - 1


def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation of lineitem quantity vs
    extended price per return flag — the tie-correct Pearson-on-ranks
    form (the d² shortcut is wrong under ties, and l_quantity is
    massively tied), with average ranks kept INTEGER-exact by the 2×
    scaling trick: avg_rank2(v) = 2·|{u < v}| + |{u = v}| + 1, so no
    .5 ever materializes and the scaling cancels inside ρ.

    Ranks come off the marginal VALUE GRIDS: both grids derive from
    one persisted narrow row frame; the quantity grid is
    vocabulary-sized (≈50 cents-values per flag — broadcast onto the
    rows), the price grid is the one real shuffle, and the cumulative
    windows run over the grids — the same grid shape as
    ``source_length_drift``.  (A (flag, x, y) PAIR grid was measured
    and rejected: the pair key is near-unique on this data, so the
    "compression" stage was row-sized pure overhead — best-draw 3.1
    → 2.2s at sf0.1 removing it, like-for-like load; row-level and
    pair-level sums are identical integers by Σ_rows f ≡
    Σ_pairs nxy·f.)

    Output: exact integer sufficient statistics as Mersenne-mod
    witnesses (num = n·Σxy−Σx·Σy and the two denominator pieces —
    DECIMAL(38,0)/HUGEINT inside, exact through ~1e9 rows per group,
    document-and-emit-raw-sums beyond), plus ρ·1e6 floored from the
    correctly-rounded double path (cast/multiply/sqrt/divide are all
    IEEE-correctly-rounded, so both engines floor the same double —
    the sanctioned floor-ppm spelling, never round-half).

    Size-gated dispatch (round-10 verdict item 4): under
    SPEAR_GATE_ROWS the single per-group cumulative window wins (the
    round-9 fixture A/B: the two-level plan's extra shuffle costs
    more than the sort saves at fixture scale); above it, the
    certified bucketed two-level prefix sum engages automatically so
    the 100× grid never funnels one group's whole value grid into a
    single sort task.  The gate reads the TABLE ROW COUNT — a
    zero-column scan costing milliseconds — because total rows upper-
    bound every per-group distinct-y grid: rows ≤ gate proves every
    grid fits the single-window plan; rows > gate takes the bucketed
    plan, which is bit-identical and only marginally slower when the
    bound is loose (a grid estimate via approx_count_distinct was
    measured at +0.8s on the benched query — it forces the cache
    build plus a full aggregate pass — and was replaced by this
    bound; both plans share the oracle)."""
    n_rows = table(spark, sf_dir, "lineitem").count()
    li = _spearman_rows(spark, sf_dir)
    if n_rows > SPEAR_GATE_ROWS:
        return _spearman_bucketed_tail(li)
    # marginal grids straight off the persisted row frame (round 9:
    # the earlier (g, x, y) pair-grid stage was pure overhead — the
    # pair key is near-unique on this data, so the "grid" was
    # row-sized and its build+joins dominated; Σ_rows f(rx2, ry2)
    # ≡ Σ_pairs nxy·f, bit-identically).  The quantity grid is
    # vocabulary-sized → broadcast; the price grid carries the one
    # real shuffle.
    xg = _spearman_xgrid(li)
    wy = Window.partitionBy("g").orderBy("y")
    yg = (
        li.groupBy("g", "y")
        .agg(F.count("*").cast("long").alias("cy"))
        .withColumn(
            "ry2",
            2
            * F.coalesce(
                F.sum("cy").over(
                    wy.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + F.col("cy")
            + 1,
        )
        .drop("cy")
    )
    return _spearman_stats(li, xg, yg)


#: per-group y-grid row count above which spearman_rank_corr routes
#: through the bucketed two-level prefix sum: the sf0.1 grid is
#: ~594k rows/group (simple window wins there, round-9 A/B), so the
#: gate sits at ~5× that — comfortably past every fixture scale,
#: comfortably before the single-task sort becomes the bottleneck on
#: a 100× grid.  approx_count_distinct's ~2% rsd cannot straddle a
#: 5×/100× margin, so the dispatch is stable.
SPEAR_GATE_ROWS = 3_000_000


def _spearman_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted narrow row frame both spearman plans read."""
    from ..io import swap_cache

    return swap_cache(
        "stats.spearman",
        table(spark, sf_dir, "lineitem").select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_quantity") * 100).cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        ),
    )


def _spearman_xgrid(li: DataFrame) -> DataFrame:
    """The vocabulary-sized quantity rank grid (shared by both
    spearman plans; broadcast onto the rows by the caller)."""
    wx = Window.partitionBy("g").orderBy("x")
    return (
        li.groupBy("g", "x")
        .agg(F.count("*").cast("long").alias("cx"))
        .withColumn(
            "rx2",
            2
            * F.coalesce(
                F.sum("cx").over(
                    wx.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + F.col("cx")
            + 1,
        )
        .drop("cx")
    )


def _spearman_stats(
    li: DataFrame, xg: DataFrame, yg: DataFrame
) -> DataFrame:
    """Shared tail of both spearman plans: join the rank grids back
    onto the rows and reduce to the exact integer sufficient
    statistics (Mersenne-mod witnesses + floor-ppm rho)."""
    j = li.join(F.broadcast(xg), ["g", "x"]).join(yg, ["g", "y"])
    agg = j.groupBy("g").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.expr("sum(CAST(rx2 AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(ry2 AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(rx2 AS DECIMAL(38,0)) * rx2)").alias("sxx"),
        F.expr("sum(CAST(ry2 AS DECIMAL(38,0)) * ry2)").alias("syy"),
        F.expr("sum(CAST(rx2 AS DECIMAL(38,0)) * ry2)").alias("sxy"),
    )
    return agg.select(
        F.col("g").alias("l_returnflag"),
        "n_rows",
        F.expr(f"CAST((n_rows * sxy - sx * sy) % {SPEAR_MOD} AS BIGINT)").alias(
            "num_mod"
        ),
        F.expr(f"CAST((n_rows * sxx - sx * sx) % {SPEAR_MOD} AS BIGINT)").alias(
            "d1_mod"
        ),
        F.expr(f"CAST((n_rows * syy - sy * sy) % {SPEAR_MOD} AS BIGINT)").alias(
            "d2_mod"
        ),
        F.expr(
            "CASE WHEN (n_rows * sxx - sx * sx) > 0"
            " AND (n_rows * syy - sy * sy) > 0 THEN"
            " CAST(floor((CAST(n_rows * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)"
            " * CAST(n_rows * syy - sy * sy AS DOUBLE))) * 1000000.0)"
            " AS BIGINT) END"
        ).alias("rho_e6"),
    )


#: y-grid value-range width per prefix-sum bucket in the bucketed
#: spearman sibling: price cents span ~[9e4, 1.05e7], so 2^16-wide
#: buckets give ~160 ordered ranges per group — each bucket's local
#: window is a bounded task, and the bucket-offset frame is
#: groups × buckets (tiny, broadcast)
SPEAR_BUCKET_W = 1 << 16


def spearman_rank_corr_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE sibling of :func:`spearman_rank_corr` (round-9
    verdict item 2): bit-identical output — same oracle — but the
    price-grid cumulative rank runs as a two-level DISTRIBUTED
    prefix sum instead of one per-group window task.

    The simple plan's ``Window.partitionBy(g).orderBy(y)`` sorts each
    group's whole value grid (~594k rows/group at sf0.1, growing with
    data) in a single task; here the grid is cut into fixed
    value-range buckets (``y div SPEAR_BUCKET_W`` — deterministic,
    no sampling, no extra pass), the cumulative count runs PER
    BUCKET in parallel, and per-bucket totals (groups × buckets
    rows) take the tiny cross-bucket cumulative window that every
    task then broadcast-joins as its offset: rank2(v) =
    2·(local_prefix + bucket_offset) + cy + 1.  The fixture-scale
    A/B keeps the simple window as the default production plan
    (COVERAGE.md round-9 "Negative A/B" — at fixture scale the extra
    shuffle costs more than the sort saves); this sibling is the
    plan a 100× grid runs, certified against the same oracle, and
    the plan `spearman_rank_corr`'s size gate dispatches to once the
    per-group grid passes SPEAR_GATE_ROWS."""
    return _spearman_bucketed_tail(_spearman_rows(spark, sf_dir))


def _spearman_bucketed_tail(li: DataFrame) -> DataFrame:
    """The bucketed two-level rank plan over the persisted row frame
    (shared by the named bucketed query and the size-gated dispatch
    in :func:`spearman_rank_corr`)."""
    xg = _spearman_xgrid(li)
    ygrid = (
        li.groupBy("g", "y")
        .agg(F.count("*").cast("long").alias("cy"))
        .withColumn("bkt", (F.col("y") / SPEAR_BUCKET_W).cast("long"))
    )
    # level 1: bucket-local cumulative count (parallel across buckets)
    wloc = Window.partitionBy("g", "bkt").orderBy("y")
    # level 2: cross-bucket offsets over the tiny per-bucket totals
    woff = Window.partitionBy("g").orderBy("bkt")
    boff = (
        ygrid.groupBy("g", "bkt")
        .agg(F.sum("cy").alias("bc"))
        .withColumn(
            "off",
            F.coalesce(
                F.sum("bc").over(
                    woff.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("bc")
    )
    yg = (
        ygrid.join(F.broadcast(boff), ["g", "bkt"])
        .withColumn(
            "ry2",
            2
            * (
                F.coalesce(
                    F.sum("cy").over(
                        wloc.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
                + F.col("off")
            )
            + F.col("cy")
            + 1,
        )
        .select("g", "y", "ry2")
    )
    return _spearman_stats(li, xg, yg)


def _two_sample_flag_grid(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[str]]:
    """Production spine of the two-sample tests (round-11 verdict
    item 5): ONE wide value grid over price cents — per flag i, the
    count column ``c{i}`` and the EXCLUSIVE cumulative ``e{i}`` —
    instead of the per-pair merged grids of
    :func:`_two_sample_merged_grid_pairwise`.

    Why this wins: the pairwise spine fanned the grid out per pair
    (2 broadcast joins + a (ga, gb, y) full join ≈ 2× grid rows for
    3 flags) and ran the bucketed prefix sum once per pair; here the
    grid is built once, the prefix sum runs once per FLAG COLUMN
    over the single frame, and every pair statistic becomes a plain
    column expression (flags are a bounded set — TPC-H return flags,
    |F| = 3 — so the pair count is a constant, not data).  Measured
    A/B at sf0.1 is recorded in COVERAGE.md round 12.

    The cumulative stays the bucketed two-level form: bucket-local
    window + bucket-offset frame, where the offset frame is
    VALUE-RANGE-scaled (y div 2^16 — ~160 rows at any corpus size),
    so its global window is bounded exactly like the 40-row
    bootstrap-replica allowlist entries.

    Returns (grid, flags): grid persisted via swap_cache, flags the
    sorted bounded flag vocabulary (collected — bounded exactly like
    the pairwise spine's broadcast pair frame was)."""
    from ..io import swap_cache

    li = _spearman_rows(spark, sf_dir)
    flags = sorted(
        r["g"] for r in li.select("g").distinct().collect()
    )  # bounded vocabulary (3 return flags), same posture as pairs
    grid = (
        li.groupBy("y")
        .pivot("g", flags)
        .agg(F.count(F.lit(1)).cast("long"))
        .na.fill(0)
    )
    for i, f in enumerate(flags):
        grid = grid.withColumnRenamed(f, f"c{i}")
    grid = grid.withColumn("bkt", (F.col("y") / SPEAR_BUCKET_W).cast("long"))
    wloc = Window.partitionBy("bkt").orderBy("y")
    woff = Window.orderBy("bkt")
    boff = grid.groupBy("bkt").agg(
        *[F.sum(f"c{i}").alias(f"b{i}") for i in range(len(flags))]
    )
    boff = boff.select(
        "bkt",
        *[
            F.coalesce(
                F.sum(f"b{i}").over(
                    woff.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias(f"off{i}")
            for i in range(len(flags))
        ],
    )
    loc = lambda c: F.coalesce(
        F.sum(c).over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    out = grid.join(F.broadcast(boff), "bkt").select(
        "y",
        *[F.col(f"c{i}") for i in range(len(flags))],
        *[
            (loc(f"c{i}") + F.col(f"off{i}")).cast("long").alias(f"e{i}")
            for i in range(len(flags))
        ],
    )
    return swap_cache("stats.twosample_flaggrid", out), flags


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _two_sample_merged_grid_pairwise(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The round-11 per-pair spine, kept as the A/B reference and
    equality oracle for :func:`_two_sample_flag_grid` (pytest pins
    both paths bit-identical): for every unordered return-flag pair
    (ga < gb), the MERGED price-cents value grid with both sides'
    counts and EXCLUSIVE cumulative counts.

    Reuses the persisted spearman row frame (same (g, y) columns,
    same swap-cache key) and the bucketed two-level prefix sum the
    spearman scale sibling certified — the cumulative never funnels a
    pair's whole merged grid into one sort task, so the plan is
    scale-correct from day one rather than fixture-tuned."""
    from ..io import swap_cache

    li = _spearman_rows(spark, sf_dir)
    grid = li.groupBy("g", "y").agg(F.count("*").cast("long").alias("c"))
    fl = grid.select("g").distinct()
    pairs = (
        fl.alias("a")
        .join(fl.alias("b"), F.col("a.g") < F.col("b.g"))
        .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    )
    a = grid.join(F.broadcast(pairs), grid.g == F.col("ga")).select(
        "ga", "gb", "y", F.col("c").alias("ca")
    )
    b = grid.join(F.broadcast(pairs), grid.g == F.col("gb")).select(
        "ga", "gb", "y", F.col("c").alias("cb")
    )
    mg = (
        a.join(b, ["ga", "gb", "y"], "full")
        .fillna(0, ["ca", "cb"])
        .withColumn("bkt", (F.col("y") / SPEAR_BUCKET_W).cast("long"))
    )
    wloc = Window.partitionBy("ga", "gb", "bkt").orderBy("y")
    woff = Window.partitionBy("ga", "gb").orderBy("bkt")
    boff = (
        mg.groupBy("ga", "gb", "bkt")
        .agg(F.sum("ca").alias("ba"), F.sum("cb").alias("bb"))
        .select(
            "ga",
            "gb",
            "bkt",
            F.coalesce(
                F.sum("ba").over(
                    woff.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("offa"),
            F.coalesce(
                F.sum("bb").over(
                    woff.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("offb"),
        )
    )
    loc = lambda c: F.coalesce(
        F.sum(c).over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    out = mg.join(F.broadcast(boff), ["ga", "gb", "bkt"]).select(
        "ga",
        "gb",
        "y",
        "ca",
        "cb",
        (loc("ca") + F.col("offa")).cast("long").alias("cae"),
        (loc("cb") + F.col("offb")).cast("long").alias("cbe"),
    )
    return swap_cache("stats.twosample_grid", out)


#: the SQL twin of _two_sample_merged_grid (simple per-pair windows —
#: oracle clarity; the integers are identical either way), shared by
#: both two-sample oracles
_TWOSAMPLE_GRID_SQL = """
li AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
grid AS (
  SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1, 2),
fl AS (SELECT DISTINCT g FROM grid),
pairs AS (SELECT a.g AS ga, b.g AS gb FROM fl a JOIN fl b ON a.g < b.g),
mg AS (
  SELECT coalesce(a.ga, b.ga) AS ga, coalesce(a.gb, b.gb) AS gb,
         coalesce(a.y, b.y) AS y,
         coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
  FROM (SELECT p.ga, p.gb, g.y, g.c
        FROM pairs p JOIN grid g ON g.g = p.ga) a
  FULL JOIN (SELECT p.ga, p.gb, g.y, g.c
             FROM pairs p JOIN grid g ON g.g = p.gb) b
    ON a.ga = b.ga AND a.gb = b.gb AND a.y = b.y),
cum AS (
  SELECT ga, gb, y, ca, cb,
         coalesce(sum(ca) OVER (PARTITION BY ga, gb ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cae,
         coalesce(sum(cb) OVER (PARTITION BY ga, gb ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cbe
  FROM mg)"""


def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney/Wilcoxon rank-sum U between every pair of
    return-flag populations over price cents — the nonparametric
    "did this slice's distribution shift" test a data pipeline runs
    between sources/snapshots where a t-test's normality assumption
    is indefensible.  U is kept INTEGER-exact by the 2x trick
    (u2 = 2·U = Σ_v ca(v)·(2·cumB(<v) + cb(v)) — every tie contributes
    exactly 1/2·2), the tie term Σ(t³−t) over the merged grid is an
    exact int64, and the normal-approximation z-score (tie-corrected
    variance) is emitted as the sanctioned floor-e6 of the correctly
    rounded double path — both engines evaluate the SAME expression
    text, so the floored double agrees bit-for-bit.

    Scale: grid-sized work after one groupBy; the cumulative runs as
    the bucketed two-level prefix sum (no per-pair sort task), ONCE
    over the wide flag grid — each pair's sufficient statistics are
    plain column expressions folded in one keyless aggregate (flags
    are a bounded vocabulary, so the aggregate is constant-width).
    u2 stays in int64 through ~1e9 rows per side; beyond, emit the
    raw sufficient statistics (documented, same posture as
    spearman)."""
    grid, flags = _two_sample_flag_grid(spark, sf_dir)
    pairs = [
        (i, j) for i in range(len(flags)) for j in range(len(flags)) if i < j
    ]
    aggs = []
    for i, j in pairs:
        ci, cj, ej = F.col(f"c{i}"), F.col(f"c{j}"), F.col(f"e{j}")
        aggs += [
            F.sum(ci).cast("long").alias(f"na_{i}_{j}"),
            F.sum(cj).cast("long").alias(f"nb_{i}_{j}"),
            F.sum(ci * (2 * ej + cj)).cast("long").alias(f"u2_{i}_{j}"),
            F.sum((ci + cj) * (ci + cj) * (ci + cj) - (ci + cj))
            .cast("long")
            .alias(f"tie_{i}_{j}"),
        ]
    one = grid.agg(*aggs)
    stack = ", ".join(
        f"{_sql_str(flags[i])}, {_sql_str(flags[j])},"
        f" na_{i}_{j}, nb_{i}_{j}, u2_{i}_{j}, tie_{i}_{j}"
        for i, j in pairs
    )
    rows = one.select(
        F.expr(
            f"stack({len(pairs)}, {stack})"
            " as (ga, gb, n_a, n_b, u2_a, tie_term)"
        )
    )
    return rows.select(
        "ga",
        "gb",
        "n_a",
        "n_b",
        "u2_a",
        "tie_term",
        F.expr(_MW_Z_EXPR).cast("long").alias("z_e6"),
    )


#: the z-score expression — ONE text evaluated by both engines so the
#: IEEE double path is identical: z = (U − n_a·n_b/2) / σ with the
#: tie-corrected σ² = n_a·n_b/12 · ((n+1) − T/(n·(n−1))), spelled off
#: the 2x-scaled integers as (u2 − n_a·n_b) / (2σ)
_MW_Z_EXPR = (
    "CASE WHEN (CAST(n_a AS DOUBLE) * n_b / 12.0)"
    " * ((n_a + n_b + 1) - CAST(tie_term AS DOUBLE)"
    "    / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE))) > 0 THEN"
    " floor(((CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b)"
    " / (2.0 * sqrt((CAST(n_a AS DOUBLE) * n_b / 12.0)"
    " * ((n_a + n_b + 1) - CAST(tie_term AS DOUBLE)"
    "    / ((n_a + n_b) * CAST(n_a + n_b - 1 AS DOUBLE)))))) * 1000000.0)"
    " END"
)

MANN_WHITNEY_ORACLE = f"""
WITH {_TWOSAMPLE_GRID_SQL},
agg AS (
  SELECT ga, gb,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(sum(ca * (2 * cbe + cb)) AS BIGINT) AS u2_a,
         CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb))
              AS BIGINT) AS tie_term
  FROM cum GROUP BY 1, 2)
SELECT ga, gb, n_a, n_b, u2_a, tie_term,
       CAST({_MW_Z_EXPR} AS BIGINT) AS z_e6
FROM agg
"""


#: KS two-sided 5% critical constant c(0.05)² = 1.358² as an exact
#: rational (e6 scale) for the integer significance compare
_KS_C2_E6 = 1_844_164


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between every
    pair of return-flag price populations: D = max_v |F_a(v) − F_b(v)|
    kept as the exact integer numerator max |cumA(≤v)·n_b −
    cumB(≤v)·n_a| over the merged grid (denominator n_a·n_b), with
    floor-ppm D and the 5% significance flag decided by the
    all-integer cross-multiplied inequality D² · n_a · n_b > c²(n_a +
    n_b) in DECIMAL(38,0) — no float ever decides the flag.

    The KS distance is the drift gate a corpus pipeline puts between
    ingest snapshots (more sensitive to shape changes than the mean
    tests); the grid/prefix machinery is shared with mann_whitney_u
    so both tests ride one persisted spine.  D's max over the FULL
    value grid equals the max over the pair's merged grid: both
    CDFs are step functions constant between their own jump points,
    so rows where neither side of a pair has mass repeat the
    previous |difference| and cannot raise the max."""
    grid, flags = _two_sample_flag_grid(spark, sf_dir)
    pairs = [
        (i, j) for i in range(len(flags)) for j in range(len(flags)) if i < j
    ]
    tot = grid.agg(
        *[
            F.sum(f"c{i}").cast("long").alias(f"n{i}")
            for i in range(len(flags))
        ]
    )
    aggs = []
    for i, j in pairs:
        inc_i = F.col(f"e{i}") + F.col(f"c{i}")
        inc_j = F.col(f"e{j}") + F.col(f"c{j}")
        aggs.append(
            F.max(
                F.abs(inc_i * F.col(f"n{j}") - inc_j * F.col(f"n{i}"))
            )
            .cast("long")
            .alias(f"d_{i}_{j}")
        )
    one = grid.crossJoin(F.broadcast(tot)).agg(*aggs).crossJoin(
        F.broadcast(tot)
    )
    stack = ", ".join(
        f"{_sql_str(flags[i])}, {_sql_str(flags[j])},"
        f" n{i}, n{j}, d_{i}_{j}"
        for i, j in pairs
    )
    agg = one.select(
        F.expr(
            f"stack({len(pairs)}, {stack})"
            " as (ga, gb, n_a, n_b, d_num)"
        )
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return agg.select(
        "ga",
        "gb",
        "n_a",
        "n_b",
        "d_num",
        F.expr(
            f"CAST(({dec.format('1000000')} * d_num)"
            f" DIV ({dec.format('n_a')} * n_b) AS BIGINT)"
        ).alias("d_ppm"),
        F.expr(
            f"CAST(({dec.format('d_num')} * d_num * 1000000)"
            f" > ({dec.format(_KS_C2_E6)} * (n_a + n_b) * n_a * n_b)"
            " AS INT)"
        ).alias("sig_05"),
    )


KS_ORACLE = f"""
WITH {_TWOSAMPLE_GRID_SQL},
tot AS (
  SELECT ga, gb, CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM cum GROUP BY 1, 2),
per_v AS (
  SELECT c.ga, c.gb,
         CAST(abs((c.cae + c.ca) * t.n_b - (c.cbe + c.cb) * t.n_a)
              AS BIGINT) AS dnum_v
  FROM cum c JOIN tot t USING (ga, gb)),
agg AS (
  SELECT ga, gb, CAST(max(dnum_v) AS BIGINT) AS d_num
  FROM per_v GROUP BY 1, 2)
SELECT a.ga, a.gb, t.n_a, t.n_b, a.d_num,
       CAST((CAST(1000000 AS HUGEINT) * a.d_num)
            // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT) AS d_ppm,
       CAST((CAST(a.d_num AS HUGEINT) * a.d_num * 1000000)
            > (CAST({_KS_C2_E6} AS HUGEINT) * (t.n_a + t.n_b)
               * t.n_a * t.n_b) AS INT) AS sig_05
FROM agg a JOIN tot t USING (ga, gb)
"""


#: chi-square 95% critical value for df = 2 (three return-flag
#: groups) as a fixed ppm rational — the MK_Z2 posture: the test
#: clears to one integer compare, no distribution function at
#: runtime
KW_CHI2_DF2_PPM = 5_991_465


def kruskal_wallis_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kruskal-Wallis H across the k = 3 return-flag
    populations over price cents — the k-SAMPLE generalization of
    `mann_whitney_u` (MW answers "do these TWO slices differ";
    KW answers "does ANY of the k differ" in one test, the omnibus
    a pipeline runs before pairwise drilldowns so k² pairwise tests
    don't inflate the false-positive rate).

    Integer discipline end to end: ranks stay exact via the 2x
    trick over the ONE merged value grid (2·avgrank(v) = 2·excl_cum
    + cnt + 1 — integers even at half-rank ties), per-group 2x rank
    sums R2_g and the tie mass Σ(t³−t) are int64, and

        H = 3·Σ_g (R2_g² div n_g) / (N(N+1)) − 3(N+1)

    is emitted as stepwise-floor ppm in DECIMAL(38,0)/HUGEINT (R2²
    reaches ~1e22 at sf0.1 — past int64, inside both engines'
    38-digit integers; the two ~1e12-ppm terms cancel to the O(H)
    statistic, floors replayed identically).  The tie-corrected
    H/C and the 95% decision against the fixed chi²(df=2) rational
    KW_CHI2_DF2_PPM are the same stepwise-floor arithmetic.

    Scale shape: everything after the ONE value-grid groupBy (the
    shared `_two_sample_flag_grid` spine, grid ≈ distinct prices)
    is constant-width column algebra — k is a bounded vocabulary,
    so no per-pair fan-out, no data-scaled window."""
    grid, flags = _two_sample_flag_grid(spark, sf_dir)
    k = len(flags)
    ct = sum(F.col(f"c{i}") for i in range(k))
    et = sum(F.col(f"e{i}") for i in range(k))
    aggs = []
    for i in range(k):
        aggs += [
            F.sum(F.col(f"c{i}")).cast("long").alias(f"n_{i}"),
            F.sum(F.col(f"c{i}") * (2 * et + ct + 1))
            .cast("long")
            .alias(f"r2_{i}"),
        ]
    aggs.append(
        F.sum(ct * ct * ct - ct).cast("long").alias("tie_term")
    )
    one = grid.agg(*aggs)
    n_total = " + ".join(f"n_{i}" for i in range(k))
    sum_term = " + ".join(
        f"(CAST(r2_{i} AS DECIMAL(38,0)) * r2_{i} DIV n_{i})"
        for i in range(k)
    )
    one = one.select(
        "*",
        F.expr(f"CAST({n_total} AS BIGINT)").alias("n_total"),
        F.expr(f"CAST({sum_term} AS DECIMAL(38,0))").alias("sum_term"),
    ).select(
        "*",
        F.expr(
            "CAST(CAST(3000000 AS DECIMAL(38,0)) * sum_term"
            " DIV (CAST(n_total AS DECIMAL(38,0)) * (n_total + 1))"
            " AS BIGINT) - 3000000 * (n_total + 1)"
        ).alias("h_ppm"),
        F.expr(
            "1000000 - CAST(CAST(1000000 AS DECIMAL(38,0)) * tie_term"
            " DIV (CAST(n_total AS DECIMAL(38,0)) * n_total * n_total"
            " - n_total) AS BIGINT)"
        ).alias("c_ppm"),
    )
    one = one.select(
        "*",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * h_ppm DIV c_ppm"
            " AS BIGINT)"
        ).alias("h_corr_ppm"),
    )
    stack = ", ".join(
        f"{_sql_str(flags[i])}, n_{i}, r2_{i}" for i in range(k)
    )
    return one.select(
        F.expr(f"stack({k}, {stack}) as (g, n_g, r2_sum)"),
        "n_total",
        "tie_term",
        "h_ppm",
        "c_ppm",
        "h_corr_ppm",
        F.expr(
            f"CAST(h_corr_ppm > {KW_CHI2_DF2_PPM} AS INT)"
        ).alias("significant"),
    ).orderBy("g")


KRUSKAL_WALLIS_ORACLE = f"""
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem),
grid AS (
  SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1, 2),
tot AS (SELECT y, CAST(sum(c) AS BIGINT) AS ct FROM grid GROUP BY 1),
cumt AS (
  SELECT y, ct,
         coalesce(sum(ct) OVER (ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS et
  FROM tot),
ranked AS (
  SELECT g.g, g.c, 2 * t.et + t.ct + 1 AS r2
  FROM grid g JOIN cumt t ON g.y = t.y),
pg AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
         CAST(sum(c * r2) AS BIGINT) AS r2_sum
  FROM ranked GROUP BY 1),
tie AS (SELECT CAST(sum(ct * ct * ct - ct) AS BIGINT) AS tie_term
        FROM tot),
nn AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_total FROM pg),
st AS (
  SELECT CAST(sum(CAST(r2_sum AS HUGEINT) * r2_sum // n_g) AS HUGEINT)
           AS sum_term
  FROM pg),
h AS (
  SELECT CAST(CAST(3000000 AS HUGEINT) * st.sum_term
              // (CAST(nn.n_total AS HUGEINT) * (nn.n_total + 1))
              AS BIGINT) - 3000000 * (nn.n_total + 1) AS h_ppm,
         1000000 - CAST(CAST(1000000 AS HUGEINT) * tie.tie_term
              // (CAST(nn.n_total AS HUGEINT) * nn.n_total * nn.n_total
                  - nn.n_total) AS BIGINT) AS c_ppm
  FROM st, nn, tie),
hc AS (
  SELECT h_ppm, c_ppm,
         CAST(CAST(1000000 AS HUGEINT) * h_ppm // c_ppm AS BIGINT)
           AS h_corr_ppm
  FROM h)
SELECT pg.g, pg.n_g, pg.r2_sum, nn.n_total, tie.tie_term,
       hc.h_ppm, hc.c_ppm, hc.h_corr_ppm,
       CAST(hc.h_corr_ppm > {KW_CHI2_DF2_PPM} AS INT) AS significant
FROM pg, nn, tie, hc
ORDER BY pg.g
"""


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized moments per order priority — the robust-mean
    readout every monitoring dashboard should prefer over the raw
    mean (one fat-fingered 1000× amount moves a raw mean for a
    month; the 5/95-winsorized mean clamps it to the tail
    boundary): exact rank-based P5/P95 cents thresholds (value at
    1-indexed rank ⌈n/20⌉ and ⌈19n/20⌉, ties broken by order key so
    both engines pick the same row), values clamped into [p5, p95],
    and both the raw and winsorized floor-mean emitted side by side
    so the robustness delta is visible.

    Integer contract: cents, ranks, and ⌈·⌉ spelled as
    (n + 19) DIV 20 / (19·n + 19) DIV 20 — all integer, floor
    divisions on non-negative operands where both engines agree.

    Scale shape: one partitioned (never global) rank window per
    group, one broadcast threshold join-back, one aggregate."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("pr"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("pr").orderBy("cents", "o_orderkey")
    ranked = base.select(
        "pr", "cents", F.row_number().over(w).alias("rn")
    )
    cnt = ranked.groupBy("pr").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    marks = cnt.select(
        "pr",
        "n",
        F.expr("(n + 19) DIV 20").alias("lo_rank"),
        F.expr("(19 * n + 19) DIV 20").alias("hi_rank"),
    )
    thr = (
        ranked.join(F.broadcast(marks), "pr")
        .filter(
            (F.col("rn") == F.col("lo_rank"))
            | (F.col("rn") == F.col("hi_rank"))
        )
        .groupBy("pr")
        .agg(
            F.min(
                F.when(F.col("rn") == F.col("lo_rank"), F.col("cents"))
            ).alias("p5_cents"),
            F.min(
                F.when(F.col("rn") == F.col("hi_rank"), F.col("cents"))
            ).alias("p95_cents"),
        )
    )
    clamped = base.join(F.broadcast(thr), "pr").select(
        "pr",
        "cents",
        "p5_cents",
        "p95_cents",
        F.greatest(
            F.col("p5_cents"), F.least(F.col("p95_cents"), F.col("cents"))
        ).alias("wcents"),
    )
    return (
        clamped.groupBy("pr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("p5_cents").cast("long").alias("p5_cents"),
            F.max("p95_cents").cast("long").alias("p95_cents"),
            F.expr(
                "CAST(CAST(sum(cents) AS DECIMAL(38,0)) DIV count(*)"
                " AS BIGINT)"
            ).alias("raw_mean_cents"),
            F.expr(
                "CAST(CAST(sum(wcents) AS DECIMAL(38,0)) DIV count(*)"
                " AS BIGINT)"
            ).alias("wins_mean_cents"),
        )
        .orderBy("pr")
    )


WINSORIZED_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS pr,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey
  FROM orders),
ranked AS (
  SELECT pr, cents,
         row_number() OVER (PARTITION BY pr
                            ORDER BY cents, o_orderkey) AS rn
  FROM base),
marks AS (
  SELECT pr, CAST(count(*) AS BIGINT) AS n,
         (count(*) + 19) // 20 AS lo_rank,
         (19 * count(*) + 19) // 20 AS hi_rank
  FROM base GROUP BY 1),
thr AS (
  SELECT r.pr,
         min(CASE WHEN r.rn = m.lo_rank THEN r.cents END) AS p5_cents,
         min(CASE WHEN r.rn = m.hi_rank THEN r.cents END) AS p95_cents
  FROM ranked r JOIN marks m ON r.pr = m.pr
  WHERE r.rn = m.lo_rank OR r.rn = m.hi_rank
  GROUP BY 1)
SELECT b.pr,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(t.p5_cents) AS BIGINT) AS p5_cents,
       CAST(max(t.p95_cents) AS BIGINT) AS p95_cents,
       CAST(CAST(sum(b.cents) AS HUGEINT) // count(*) AS BIGINT)
         AS raw_mean_cents,
       CAST(CAST(sum(greatest(t.p5_cents,
                              least(t.p95_cents, b.cents))) AS HUGEINT)
            // count(*) AS BIGINT) AS wins_mean_cents
FROM base b JOIN thr t ON b.pr = t.pr
GROUP BY 1 ORDER BY 1
"""


SPEARMAN_ORACLE = f"""
WITH pair AS MATERIALIZED (
  SELECT l_returnflag AS g,
         CAST(floor(l_quantity * 100) AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(count(*) AS BIGINT) AS nxy
  FROM lineitem GROUP BY 1, 2, 3),
xg AS (
  SELECT g, x,
         2 * coalesce(sum(cx) OVER (PARTITION BY g ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) + cx + 1 AS rx2
  FROM (SELECT g, x, CAST(sum(nxy) AS BIGINT) AS cx FROM pair GROUP BY 1, 2)),
yg AS (
  SELECT g, y,
         2 * coalesce(sum(cy) OVER (PARTITION BY g ORDER BY y
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) + cy + 1 AS ry2
  FROM (SELECT g, y, CAST(sum(nxy) AS BIGINT) AS cy FROM pair GROUP BY 1, 2)),
j AS (
  SELECT p.g, p.nxy, xg.rx2, yg.ry2
  FROM pair p JOIN xg ON p.g = xg.g AND p.x = xg.x
              JOIN yg ON p.g = yg.g AND p.y = yg.y),
a AS (
  SELECT g,
         CAST(sum(nxy) AS BIGINT) AS n_rows,
         sum(CAST(nxy AS HUGEINT) * rx2) AS sx,
         sum(CAST(nxy AS HUGEINT) * ry2) AS sy,
         sum(CAST(nxy AS HUGEINT) * rx2 * rx2) AS sxx,
         sum(CAST(nxy AS HUGEINT) * ry2 * ry2) AS syy,
         sum(CAST(nxy AS HUGEINT) * rx2 * ry2) AS sxy
  FROM j GROUP BY 1)
SELECT g AS l_returnflag,
       n_rows,
       CAST((n_rows * sxy - sx * sy) % {SPEAR_MOD} AS BIGINT) AS num_mod,
       CAST((n_rows * sxx - sx * sx) % {SPEAR_MOD} AS BIGINT) AS d1_mod,
       CAST((n_rows * syy - sy * sy) % {SPEAR_MOD} AS BIGINT) AS d2_mod,
       CASE WHEN (n_rows * sxx - sx * sx) > 0
             AND (n_rows * syy - sy * sy) > 0 THEN
         CAST(floor((CAST(n_rows * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n_rows * sxx - sx * sx AS DOUBLE)
           * CAST(n_rows * syy - sy * sy AS DOUBLE))) * 1000000.0)
           AS BIGINT) END AS rho_e6
FROM a
"""


#: quartile positions probed by the exact interpolation, in quarters
PCTL_QS = (1, 2, 3)


def percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_cont`` made PORTABLE — the interpolated quantile
    is the one summary this repo has deliberately avoided (its
    ``a + (b−a)·frac`` lands on decimal half-boundaries where Spark's
    HALF_UP and DuckDB's binary rounding disagree); this query is the
    portable spelling: for q = 1/4, 2/4, 3/4 the position
    ``q·(n−1)`` has remainder r/4, so the interpolated value times 4
    is the INTEGER ``(4−r)·a + r·b`` over the two straddling order
    statistics on the e2 money grid — no float ever materializes.

    Order statistics come off the per-status VALUE GRID (one
    map-side-combined groupBy; cumulative window over distinct
    values — the spearman/source_length_drift shape), not a row
    sort: a(k) is the first grid value whose cumulative count
    exceeds k.  Emits per (status, quarter): n, the straddling
    positions, and the ×4-scaled interpolated value — bit-identical
    in both engines, and exactly 4·percentile_cont when divided by
    the caller."""
    from ..io import swap_cache

    o = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    grid = swap_cache(
        "stats.pctl",
        o.groupBy("o_orderstatus", "v").agg(F.count("*").alias("c")),
    )
    w = Window.partitionBy("o_orderstatus").orderBy("v")
    cum = grid.select(
        "o_orderstatus",
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c")
        .over(Window.partitionBy("o_orderstatus"))
        .alias("n"),
    )
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q).cast("long") for q in PCTL_QS])
        ).alias("quarter")
    )
    # position q(n-1)/4 = lo + r/4: lo = quarter*(n-1) DIV 4,
    # r = quarter*(n-1) % 4; a = orderstat(lo), b = orderstat(lo+1)
    # (b only consulted when r > 0; orderstat(k) 0-based = first v
    # with cum >= k+1)
    t = (
        cum.join(F.broadcast(qs))
        .withColumn("lo", F.expr("quarter * (n - 1) DIV 4"))
        .withColumn("r", F.expr("quarter * (n - 1) % 4"))
    )
    a = (
        t.filter(F.col("cum") >= F.col("lo") + 1)
        .groupBy("o_orderstatus", "quarter", "n", "lo", "r")
        .agg(F.min("v").alias("a"))
    )
    b = (
        t.filter(F.col("cum") >= F.col("lo") + 2)
        .groupBy("o_orderstatus", "quarter")
        .agg(F.min("v").alias("b"))
    )
    return (
        a.join(b, ["o_orderstatus", "quarter"], "left")
        .select(
            "o_orderstatus",
            "quarter",
            F.col("n").cast("long").alias("n_rows"),
            "a",
            F.coalesce("b", "a").alias("b"),
            F.expr("(4 - r) * a + r * coalesce(b, a)")
            .cast("long")
            .alias("pctl_e2_x4"),
        )
    )


PCTL_CONT_ORACLE = f"""
WITH o AS (
  SELECT o_orderstatus, CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders),
grid AS MATERIALIZED (
  SELECT o_orderstatus, v, count(*) AS c FROM o GROUP BY 1, 2),
cum AS MATERIALIZED (
  SELECT o_orderstatus, v,
         sum(c) OVER (PARTITION BY o_orderstatus ORDER BY v) AS cum,
         sum(c) OVER (PARTITION BY o_orderstatus) AS n
  FROM grid),
qs AS (SELECT CAST(unnest({list(PCTL_QS)}) AS BIGINT) AS quarter),
t AS (
  SELECT c.*, q.quarter,
         q.quarter * (c.n - 1) // 4 AS lo,
         q.quarter * (c.n - 1) % 4 AS r
  FROM cum c, qs q),
a AS (
  SELECT o_orderstatus, quarter, n, lo, r, min(v) AS a
  FROM t WHERE cum >= lo + 1 GROUP BY 1, 2, 3, 4, 5),
b AS (
  SELECT o_orderstatus, quarter, min(v) AS b
  FROM t WHERE cum >= lo + 2 GROUP BY 1, 2)
SELECT a.o_orderstatus, a.quarter,
       CAST(a.n AS BIGINT) AS n_rows,
       a.a,
       coalesce(b.b, a.a) AS b,
       CAST((4 - a.r) * a.a + a.r * coalesce(b.b, a.a) AS BIGINT)
         AS pctl_e2_x4
FROM a LEFT JOIN b USING (o_orderstatus, quarter)
"""


#: RLE block size for the distributed run decomposition
ENC_BLK = 4096


def _enc_stack(o: DataFrame) -> DataFrame:
    """The (k, col_name, v, blk) stacked frame the advisor and its
    incremental-maintenance contract share."""
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "stack(4,"
            " 'status_cp', CAST(ascii(o_orderstatus) AS BIGINT),"
            " 'custkey', CAST(o_custkey AS BIGINT),"
            " 'price_e2', CAST(floor(o_totalprice * 100) AS BIGINT),"
            " 'order_day', CAST(datediff(o_orderdate, DATE'1992-01-01')"
            "   AS BIGINT)"
            ") AS (col_name, v)"
        ),
    ).withColumn("blk", F.expr(f"k DIV {ENC_BLK}"))


def enc_block_state(v: DataFrame) -> DataFrame:
    """The per-block encoding state — THE incrementally-maintainable
    artifact: block-aligned ingest appends per-block rows without
    touching existing ones (runs/deltas are block-local; boundary
    pairing happens at report time), so a nightly key-range append
    costs the batch, not the table.  One row per (column, block)."""
    w = Window.partitionBy("col_name", "blk").orderBy("k")
    flagged = v.withColumn("pv", F.lag("v").over(w)).select(
        "col_name",
        "blk",
        "k",
        "v",
        (F.col("pv").isNull() | (F.col("v") != F.col("pv")))
        .cast("long")
        .alias("is_start"),
        F.when(F.col("pv").isNull(), F.lit(0))
        .otherwise(F.abs(F.col("v") - F.col("pv")))
        .alias("d"),
    )
    return flagged.groupBy("col_name", "blk").agg(
        F.count("*").alias("n_b"),
        F.sum("is_start").alias("starts_b"),
        F.max("d").alias("dmax_b"),
        F.expr("min_by(v, k)").alias("first_v"),
        F.expr("max_by(v, k)").alias("last_v"),
    )


def enc_value_state(v: DataFrame) -> DataFrame:
    """The distinct-value state feeding exact NDV/min/max — the
    value-set index, maintained by insert-only upsert (anti-join or
    union+distinct, identical results)."""
    return v.select("col_name", "v").distinct()


def _enc_report(per_blk: DataFrame, values: DataFrame) -> DataFrame:
    """Final advisor assembly from the two state tables."""
    wb = Window.partitionBy("col_name").orderBy("blk")
    joined = per_blk.withColumn("prev_last", F.lag("last_v").over(wb))
    agg = joined.groupBy("col_name").agg(
        F.sum("n_b").cast("long").alias("n_rows"),
        (
            F.sum("starts_b")
            - F.coalesce(
                F.sum(
                    (F.col("prev_last") == F.col("first_v")).cast("long")
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_runs"),
        F.greatest(
            F.max("dmax_b"),
            F.coalesce(
                F.max(F.abs(F.col("prev_last") - F.col("first_v"))),
                F.lit(0),
            ),
        )
        .cast("long")
        .alias("delta_max"),
    )
    nd = values.groupBy("col_name").agg(
        F.count("*").cast("long").alias("ndv"),
        F.min("v").cast("long").alias("v_min"),
        F.max("v").cast("long").alias("v_max"),
    )
    return (
        agg.join(nd, "col_name")
        .select(
            "col_name",
            "n_rows",
            "ndv",
            "v_min",
            "v_max",
            "n_runs",
            F.expr("1000000 * n_runs DIV n_rows")
            .cast("long")
            .alias("rle_ratio_ppm"),
            F.expr(
                "CAST(CASE WHEN delta_max = 0 THEN 0"
                " ELSE length(bin(delta_max)) END AS BIGINT)"
            ).alias("delta_bits"),
        )
    )


def encoding_advisor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding ADVISOR — the layout decision every columnar
    sink makes, computed exactly: per candidate column (in the
    table's physical key order), the run count (would RLE help?),
    the max adjacent delta's bit width (would delta encoding help?),
    and the distinct count (would dictionary encoding help?), plus
    the RLE compression ratio in exact ppm.  The optimizer-stats
    companion to ``zorder_clustering_stats`` (that one asks how to
    SORT for locality; this one asks how to ENCODE what the sort
    produced).

    Scale shape — the run count needs adjacency, not a global sort:
    rows decompose into ``ENC_BLK``-sized key blocks; runs and
    deltas compute block-locally (fine-grained windows over
    (column, block)), and block-BOUNDARY continuations/deltas come
    from a lag over the block-count-sized per-block (first, last)
    frame — paired by the previous EXISTING block, so key-space gaps
    (empty block ids) still pair the blocks holding adjacent rows —
    total runs = block-local run starts − boundary continuations,
    EXACTLY the global answer (the oracle computes
    the same numbers with one global window per column, which is
    fine engine-side at fixture scale and pins the decomposition).

    All integer: strings enter as their first codepoint, money on
    the e2 grid, dates as epoch-day offsets; delta bit width via
    ``length(bin(x))`` (no float log2)."""
    o = table(spark, sf_dir, "orders")
    v = _enc_stack(o)
    return _enc_report(enc_block_state(v), enc_value_state(v))


def encoding_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certifiable incremental-maintenance contract for the
    encoding advisor — the newest member of the upsert ≡ rebuild
    family (postings / components / band / sign / IVF):
    ``report(state(A) ∪ state(B)) ≡ report(state(A ∪ B))`` for any
    BLOCK-ALIGNED partition of the key space (here: even vs odd
    block ids — stricter than the append-only case, since every
    interleaved boundary must re-pair correctly at report time).
    This is the property that lets a nightly key-range append
    maintain the advisor at batch cost: new per-block rows append,
    the value-set index takes an insert-only upsert, and no existing
    state row is touched.

    One summary row, the family's standard shape: report-row count
    + both full-outer mismatch counts pinned to 0 by the oracle."""
    from ..io import swap_cache

    o = table(spark, sf_dir, "orders")
    # persist each stacked value frame: both state builders (block
    # and value set) consume every stack, and the value-set upsert
    # reads the even side twice more — un-persisted that was 7
    # orders scans in one plan (r14 scan sweep; guide §2.4).  Three
    # persisted stacks = exactly the three logically-required passes
    # (the contract builds the inc side AND the rebuild side).
    even, odd, full_v = swap_cache(
        "stats.enc_stacks",
        _enc_stack(o.filter(F.expr(f"(o_orderkey DIV {ENC_BLK}) % 2 = 0"))),
        _enc_stack(o.filter(F.expr(f"(o_orderkey DIV {ENC_BLK}) % 2 = 1"))),
        _enc_stack(o),
    )
    inc_blocks = enc_block_state(even).unionByName(enc_block_state(odd))
    # insert-only value-set upsert: odd-side values not already
    # present append (anti-join — the K3 insert-only merge shape)
    va = enc_value_state(even)
    vb = enc_value_state(odd)
    inc_values = va.unionByName(
        vb.join(va, ["col_name", "v"], "left_anti")
    )
    inc = _enc_report(inc_blocks, inc_values)
    full = _enc_report(enc_block_state(full_v), enc_value_state(full_v))
    cols = [
        "col_name", "n_rows", "ndv", "v_min", "v_max", "n_runs",
        "rle_ratio_ppm", "delta_bits",
    ]
    a = inc.select(*cols).withColumn("in_i", F.lit(1))
    b = full.select(*cols).withColumn("in_f", F.lit(1))
    return (
        a.join(b, cols, "full_outer")
        .agg(
            F.sum(F.coalesce("in_f", F.lit(0)))
            .cast("long")
            .alias("n_report_rows"),
            F.sum(
                (F.col("in_i").isNotNull() & F.col("in_f").isNull()).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_only_incremental"),
            F.sum(
                (F.col("in_f").isNotNull() & F.col("in_i").isNull()).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_only_rebuild"),
        )
        .select(
            "n_report_rows",
            "n_only_incremental",
            "n_only_rebuild",
            (
                (F.col("n_only_incremental") == 0)
                & (F.col("n_only_rebuild") == 0)
            )
            .cast("int")
            .alias("incremental_equals_rebuild"),
        )
    )


ENCODING_ADVISOR_ORACLE = """
WITH v AS MATERIALIZED (
  SELECT o_orderkey AS k, t.col_name, t.v
  FROM orders, LATERAL (
    VALUES ('status_cp', CAST(ascii(o_orderstatus) AS BIGINT)),
           ('custkey', CAST(o_custkey AS BIGINT)),
           ('price_e2', CAST(floor(o_totalprice * 100) AS BIGINT)),
           ('order_day', CAST(date_diff('day', DATE '1992-01-01',
                                        o_orderdate) AS BIGINT))
  ) t(col_name, v)),
w AS (
  SELECT col_name, v,
         lag(v) OVER (PARTITION BY col_name ORDER BY k) AS pv
  FROM v),
per AS (
  SELECT col_name,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT v) AS BIGINT) AS ndv,
         CAST(min(v) AS BIGINT) AS v_min,
         CAST(max(v) AS BIGINT) AS v_max,
         CAST(sum(CASE WHEN pv IS NULL OR v != pv THEN 1 ELSE 0 END)
              AS BIGINT) AS n_runs,
         CAST(max(CASE WHEN pv IS NULL THEN 0 ELSE abs(v - pv) END)
              AS BIGINT) AS delta_max
  FROM w GROUP BY 1)
SELECT col_name, n_rows, ndv, v_min, v_max, n_runs,
       CAST(1000000 * n_runs // n_rows AS BIGINT) AS rle_ratio_ppm,
       CAST(CASE WHEN delta_max = 0 THEN 0
            ELSE length(bin(delta_max)) END AS BIGINT) AS delta_bits
FROM per
"""


def chi2_contingency_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence for orders.o_orderpriority ×
    o_orderstatus, emitted per contingency cell in exact integer
    arithmetic: observed count, expected count (×1e6), and the cell's
    chi-square contribution in parts-per-million.

    ``(obs-E)²/E`` clears to integers with ``E_e6 = (1e6·row·col) DIV
    T``: the cell contribution is ``(1e6·obs - E_e6)² DIV E_e6`` ppm —
    both divisions floored identically by Spark's DECIMAL DIV and
    DuckDB's HUGEINT ``//``, so the statistic is bit-identical across
    engines (the sum of floor-scaled cells is the *defined* statistic
    here, documented rather than an approximation hazard).

    Scale shape (100 TB): one map-side-combined groupBy over the fact
    table produces the r×c cell table (≤ dozens of rows); margins and
    the total are broadcast re-aggregations OF THE CELLS — persisted
    for the invocation (``io.swap_cache``), because un-persisted each
    margin branch re-executes the corpus groupBy — so nothing
    after the first aggregate ever touches the corpus again. Overflow
    headroom: (1e6·obs)² caps the numerator at (1e6·T)² — inside
    DECIMAL(38,0) up to T ≈ 3e12 rows, i.e. a ~100 TB orders table at
    ~100 B/row with 3× headroom; past that, drop the ppm
    premultiplier or emit the raw sufficient statistics."""
    from ..io import swap_cache

    o = table(spark, sf_dir, "orders")
    cells = swap_cache(
        "stats.chi2",
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        ).agg(F.count("*").cast("long").alias("n_obs")),
    )
    rowm = cells.groupBy("priority").agg(F.sum("n_obs").cast("long").alias("row_n"))
    colm = cells.groupBy("status").agg(F.sum("n_obs").cast("long").alias("col_n"))
    tot = cells.agg(F.sum("n_obs").cast("long").alias("t_n"))
    return (
        cells.join(F.broadcast(rowm), "priority")
        .join(F.broadcast(colm), "status")
        .crossJoin(F.broadcast(tot))  # 1-row scalar total, by design
        .withColumn(
            "e_e6",
            F.expr(
                "CAST(1000000 AS DECIMAL(38,0)) * row_n * col_n"
                " DIV CAST(t_n AS DECIMAL(38,0))"
            ),
        )
        .select(
            "priority",
            "status",
            "n_obs",
            F.expr("CAST(e_e6 AS BIGINT)").alias("expected_e6"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_obs - e_e6)"
                "     * (CAST(1000000 AS DECIMAL(38,0)) * n_obs - e_e6)"
                " DIV e_e6 AS BIGINT)"
            ).alias("chi2_cell_ppm"),
        )
    )


CHI2_ORACLE = """
WITH cells AS (
  SELECT o_orderpriority AS priority, o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM orders GROUP BY 1, 2),
rowm AS (SELECT priority, CAST(sum(n_obs) AS BIGINT) AS row_n FROM cells GROUP BY 1),
colm AS (SELECT status, CAST(sum(n_obs) AS BIGINT) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS t_n FROM cells),
e AS (
  SELECT c.priority, c.status, c.n_obs,
         CAST(CAST(1000000 AS HUGEINT) * r.row_n * m.col_n
              // CAST(t.t_n AS HUGEINT) AS HUGEINT) AS e_e6
  FROM cells c JOIN rowm r USING (priority) JOIN colm m USING (status)
  CROSS JOIN tot t)
SELECT priority, status, n_obs,
       CAST(e_e6 AS BIGINT) AS expected_e6,
       CAST((CAST(1000000 AS HUGEINT) * n_obs - e_e6)
            * (CAST(1000000 AS HUGEINT) * n_obs - e_e6)
            // e_e6 AS BIGINT) AS chi2_cell_ppm
FROM e
"""


def bitmap_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's bitmap aggregate family (``bitmap_bit_position`` →
    ``bitmap_construct_agg`` → ``bitmap_count``) certified exact: per
    nation, the bitmap-derived distinct customer count AND the
    bitmap-of-unions identity (bitmap_or_agg over per-mktsegment
    bitmaps == the nation-wide bitmap) against plain count(DISTINCT).

    Bitmaps are Spark's exact-distinct accelerator for dense integer
    key domains — O(domain/8) bytes of state instead of a hash set,
    mergeable map-side, the same trick a warehouse uses for segment
    membership at 100 TB. The emitted columns are plain BIGINTs, so
    the DuckDB oracle is the definitionally-equivalent
    count(DISTINCT): any bitmap regression (position math, merge,
    popcount) flips the row.

    A ``bitmap_bit_position`` bitmap covers ONE 32768-key bucket, so
    keys must first group by ``bitmap_bucket_number`` — one bitmap
    per (nation, segment, bucket), OR-merged across segments within
    the bucket, popcounts summed over buckets.  Without the bucket
    key, custkeys alias modulo 32768 and every domain past the first
    bucket silently undercounts (round-4 advice)."""
    c = table(spark, sf_dir, "customer")
    per_seg_bucket = c.groupBy(
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        "c_mktsegment",
        F.expr("bitmap_bucket_number(c_custkey)").alias("bkt"),
    ).agg(
        F.expr(
            "bitmap_construct_agg(bitmap_bit_position(c_custkey))"
        ).alias("seg_bitmap")
    )
    per_bucket = per_seg_bucket.groupBy("c_nationkey", "bkt").agg(
        F.expr("bitmap_count(bitmap_or_agg(seg_bitmap))")
        .cast("long")
        .alias("bucket_distinct")
    )
    return (
        per_bucket.groupBy("c_nationkey")
        .agg(F.sum("bucket_distinct").cast("long").alias("distinct_via_bitmap"))
        .join(
            c.groupBy(F.col("c_nationkey").cast("int").alias("c_nationkey")).agg(
                F.countDistinct("c_custkey").cast("long").alias("distinct_exact"),
                F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
            ),
            "c_nationkey",
        )
        .select(
            "c_nationkey",
            "n_segments",
            "distinct_via_bitmap",
            "distinct_exact",
            (F.col("distinct_via_bitmap") == F.col("distinct_exact")).alias(
                "bitmap_exact"
            ),
        )
    )


BITMAP_ORACLE = """
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS distinct_via_bitmap,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS distinct_exact,
       TRUE AS bitmap_exact
FROM customer GROUP BY 1
"""



ENCODING_UPSERT_ORACLE = (
    "SELECT CAST((SELECT count(*) FROM ("
    + ENCODING_ADVISOR_ORACLE.strip()
    + ") r) AS BIGINT) AS n_report_rows,"
    "       CAST(0 AS BIGINT) AS n_only_incremental,"
    "       CAST(0 AS BIGINT) AS n_only_rebuild,"
    "       1 AS incremental_equals_rebuild"
)


#: Poisson-bootstrap geometry: replica count and the Poisson(1)
#: inverse-CDF ladder over a 2^20 integer domain — cumulative
#: thresholds computed ONCE in Python (math.exp/factorial) and
#: embedded as integer literals in both engines, the same
#: tabulation trick as the DP release ladder and NDCG discounts.
#: The tail (k >= 7) is absorbed into the last step.
BOOT_B = 40
BOOT_DOM = 1 << 20


def _boot_ladder() -> list[tuple[int, int]]:
    import math

    acc, out = 0.0, []
    for k in range(8):
        acc += math.exp(-1) / math.factorial(k)
        out.append((k, math.floor(acc * BOOT_DOM)))
    out[-1] = (7, BOOT_DOM)
    return out


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for mean order value —
    THE bootstrap that scales on a shuffle engine: true multinomial
    resampling needs coordinated draws of n rows, but for large n
    each row's multiplicity is ≈ Poisson(1) INDEPENDENTLY, so every
    row assigns its own weight per replica from a keyed hash and one
    aggregate pass computes all B replica means (Chamandy et al.,
    "Estimating Uncertainty for Massive Data Streams", Google 2012).

    Deterministic keyed randomness again: weight(row, b) = the
    Poisson(1) integer inverse-CDF ladder applied to the md5 bucket
    of (orderkey | replica) — both engines replay the identical
    draw, and everything downstream is exact integer division
    (replica mean = Σw·cents DIV Σw).  The CI is the 2nd / 39th
    order statistic of the B = 40 replica means (a 95% percentile
    interval).  Scale: ONE pass over rows × B weight rows, one
    B-row aggregate, order statistics over 40 values."""
    from ..io import fan_out
    from ..operators.corpusops import _hash_bucket

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # fan_out: the single-file orders scan is ONE split, which
    # serialized the rows × B md5 draws on one core (measured 8.3s
    # for the weight stage alone at sf0.1; r14 optimization round,
    # guide §2.5 input skew)
    reps = fan_out(o).select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    u = _hash_bucket(
        F.concat(F.col("o_orderkey").cast("string"), F.lit("|"), F.col("b")),
        "boot|",
        BOOT_DOM,
    )
    # materialize the md5 bucket ONCE as a column before the ladder:
    # each when() branch referencing the raw expression re-evaluates
    # the md5+conv chain per branch it falls through (no
    # cross-branch CSE), up to |ladder|× per row
    reps = reps.withColumn("u", u)
    w = None
    for k, thr in _boot_ladder():
        cond = F.col("u") < thr
        w = F.when(cond, k) if w is None else w.when(cond, k)
    w = w.cast("long")
    means = (
        reps.select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).cast("long").alias("wc"),
            F.sum("w").cast("long").alias("ws"),
        )
        .select("b", F.expr("wc DIV ws").cast("long").alias("m"))
    )
    from pyspark.sql.window import Window

    ranked = means.withColumn(
        "rn", F.row_number().over(Window.orderBy("m", "b"))
    )
    lo = ranked.filter(F.col("rn") == 2).select(F.col("m").alias("boot_lo_cents"))
    hi = ranked.filter(F.col("rn") == BOOT_B - 1).select(
        F.col("m").alias("boot_hi_cents")
    )
    point = o.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.expr("sum(cents) DIV count(*)").cast("long").alias("mean_cents"),
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_orders",
            "mean_cents",
            "boot_lo_cents",
            "boot_hi_cents",
            (F.col("boot_hi_cents") - F.col("boot_lo_cents"))
            .cast("long")
            .alias("ci_width_cents"),
            F.lit(BOOT_B).alias("n_replicas"),
        )
    )


def _boot_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    u = _hash_bucket_sql(
        "CAST(o_orderkey AS VARCHAR) || '|' || CAST(t.b AS VARCHAR)",
        "boot|",
        BOOT_DOM,
    )
    branches = " ".join(
        f"WHEN ({u}) < {thr} THEN {k}" for k, thr in _boot_ladder()
    )
    return f"""
WITH o AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
reps AS (
  SELECT o_orderkey, cents, CAST(t.b AS BIGINT) AS b,
         CAST(CASE {branches} END AS BIGINT) AS w
  FROM o, unnest(range(0, {BOOT_B})) t(b)),
means AS (
  SELECT b, CAST(sum(w * cents) // sum(w) AS BIGINT) AS m
  FROM reps GROUP BY 1),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rn FROM means),
point AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
  FROM o)
SELECT n_orders, mean_cents,
       (SELECT m FROM ranked WHERE rn = 2) AS boot_lo_cents,
       (SELECT m FROM ranked WHERE rn = {BOOT_B - 1}) AS boot_hi_cents,
       (SELECT m FROM ranked WHERE rn = {BOOT_B - 1})
         - (SELECT m FROM ranked WHERE rn = 2) AS ci_width_cents,
       {BOOT_B} AS n_replicas
FROM point
"""


QUERIES = {
    "poisson_bootstrap_ci": poisson_bootstrap_ci,
    "bitmap_distinct_contract": bitmap_distinct_contract,
    "chi2_contingency_cells": chi2_contingency_cells,
    "hll_accuracy_check": hll_accuracy_check,
    "equidepth_histogram": equidepth_histogram,
    "mcv_stats": mcv_stats,
    "sampled_histogram": sampled_histogram,
    "freq_items_contract": freq_items_contract,
    "hll_per_group_contract": hll_per_group_contract,
    "decimal_money_totals": decimal_money_totals,
    "parquet_agg_pushdown_stats": parquet_agg_pushdown_stats,
    "ndv_catalog_sweep": ndv_catalog_sweep,
    "portable_hll_registers": portable_hll_registers,
    "hll_upsert_equivalence": hll_upsert_equivalence,
    "hll_rolling_distinct": hll_rolling_distinct,
    "conformal_quantile_gate": conformal_quantile_gate,
    "portable_kmv_setops": portable_kmv_setops,
    "portable_qdigest_quantiles": portable_qdigest_quantiles,
    "spearman_rank_corr": spearman_rank_corr,
    "spearman_rank_corr_bucketed": spearman_rank_corr_bucketed,
    "percentile_cont_exact": percentile_cont_exact,
    "encoding_advisor_stats": encoding_advisor_stats,
    "encoding_upsert_equivalence": encoding_upsert_equivalence,
    "mann_whitney_u": mann_whitney_u,
    "ks_two_sample": ks_two_sample,
    "kruskal_wallis_test": kruskal_wallis_test,
    "winsorized_stats": winsorized_stats,
}

ORACLES = {
    "poisson_bootstrap_ci": _boot_oracle(),
    "mann_whitney_u": MANN_WHITNEY_ORACLE,
    "ks_two_sample": KS_ORACLE,
    "kruskal_wallis_test": KRUSKAL_WALLIS_ORACLE,
    "winsorized_stats": WINSORIZED_ORACLE,
    "bitmap_distinct_contract": BITMAP_ORACLE,
    "chi2_contingency_cells": CHI2_ORACLE,
    "hll_accuracy_check": HLL_ACCURACY_ORACLE,
    "equidepth_histogram": EQUIDEPTH_ORACLE,
    "mcv_stats": MCV_ORACLE,
    "sampled_histogram": SAMPLED_HISTOGRAM_ORACLE,
    "freq_items_contract": FREQ_ITEMS_ORACLE,
    "hll_per_group_contract": HLL_PER_GROUP_ORACLE,
    "decimal_money_totals": DECIMAL_MONEY_ORACLE,
    "parquet_agg_pushdown_stats": AGG_PUSHDOWN_ORACLE,
    "ndv_catalog_sweep": NDV_CATALOG_ORACLE,
    "portable_hll_registers": PORTABLE_HLL_ORACLE,
    "hll_upsert_equivalence": HLL_UPSERT_ORACLE,
    "hll_rolling_distinct": HLL_ROLLING_ORACLE,
    "conformal_quantile_gate": _conformal_oracle(),
    "portable_kmv_setops": PORTABLE_KMV_ORACLE,
    "portable_qdigest_quantiles": PORTABLE_QDIGEST_ORACLE,
    "spearman_rank_corr": SPEARMAN_ORACLE,
    # the bucketed sibling is bit-identical by construction, so the
    # same oracle certifies it — the certification IS the claim that
    # the distributed prefix sum changes the plan, not the answer
    "spearman_rank_corr_bucketed": SPEARMAN_ORACLE,
    "percentile_cont_exact": PCTL_CONT_ORACLE,
    "encoding_advisor_stats": ENCODING_ADVISOR_ORACLE,
    "encoding_upsert_equivalence": ENCODING_UPSERT_ORACLE,
}
