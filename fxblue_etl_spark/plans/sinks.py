"""Sink-side layout plans: partitioned write + pruned read-back.

The reference's sink is a keyed Postgres table (`operators/merge.py`
models the upsert semantics); at Spark scale the fact-table sink is a
hive-partitioned parquet layout instead, chosen so the dominant query
predicates prune whole directories. This plan certifies that path end
to end through the driver's correctness gate: write `orders`
partitioned by its low-cardinality priority column, read it back with
a partition predicate, and aggregate — if the sink round-trip loses
rows, types, or partition values, the hash diverges from the oracle
computed straight off the source table.

Layout rules encoded here (io.write_partitioned docstring): partition
only by bounded-cardinality columns (priority: 5 values — never a
key), so file counts stay sane at 100 TB and the scan's
PartitionFilters line carries the predicate instead of row-level IO.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import sink_dir, stage_fixture, table, write_partitioned

#: the partition predicate certified by the round-trip
KEPT_PRIORITIES = ("1-URGENT", "2-HIGH")


def partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → partitioned parquet sink → pruned scan → summary."""
    o = table(spark, sf_dir, "orders")
    path = stage_fixture(
        sf_dir,
        "orders_by_priority",
        lambda tmp: write_partitioned(o, tmp, ["o_orderpriority"]),
    )

    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority").isin(*KEPT_PRIORITIES)
    )
    return back.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        F.min("o_orderdate").cast("string").alias("first_date"),
        F.max("o_orderdate").cast("string").alias("last_date"),
    )


SINK_ROUNDTRIP_ORACLE = f"""
SELECT o_orderpriority, o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date,
       CAST(max(o_orderdate) AS VARCHAR) AS last_date
FROM orders
WHERE o_orderpriority IN {KEPT_PRIORITIES!r}
GROUP BY 1, 2
"""


def _monthly_layout(spark: SparkSession, sf_dir: str) -> str:
    """orders written hive-partitioned by order month (staged once per
    fixture; the layout a date-bounded fact sink would use at scale)."""
    o = table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    return stage_fixture(
        sf_dir,
        "orders_by_month",
        lambda tmp: write_partitioned(o, tmp, ["order_month"]),
    )


def dpp_monthly_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the month-partitioned fact joined to
    a small month dimension carrying a selective filter. Catalyst
    plants the dim's month set as a runtime partition filter on the
    fact scan (DPP), so only qualifying month directories are read —
    the mechanism that makes date-dim joins cheap on a 100 TB
    partitioned fact. `tests/test_ml.py` asserts the
    dynamicpruning expression is present in the plan."""
    fact = spark.read.parquet(_monthly_layout(spark, sf_dir))
    # month dim derived from the fact's own calendar: quarter rollup
    months = (
        table(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .distinct()
        .withColumn("quarter", F.concat(F.substring("order_month", 1, 4),
                                        F.lit("-Q"),
                                        F.ceil(F.substring("order_month", 6, 2).cast("int") / 3)))
    )
    dim = months.filter(F.col("quarter") == "1996-Q2")
    joined = fact.join(F.broadcast(dim), "order_month")
    return joined.groupBy("order_month", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


DPP_ORACLE = """
WITH fact AS (
  SELECT *, strftime(o_orderdate, '%Y-%m') AS order_month FROM orders),
dim AS (
  SELECT DISTINCT order_month,
         substr(order_month, 1, 4) || '-Q' ||
           CAST(CAST(ceil(CAST(substr(order_month, 6, 2) AS INT) / 3.0) AS INT) AS VARCHAR)
           AS quarter
  FROM fact)
SELECT f.order_month, o_orderstatus,
       count(*) AS n_orders,
       round(sum(o_totalprice), 4) AS total_price
FROM fact f JOIN dim d ON f.order_month = d.order_month
WHERE d.quarter = '1996-Q2'
GROUP BY 1, 2
"""


def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC sink → scan → pricing rollup. Certifies the
    second columnar format end to end (type fidelity through ORC's
    writer/reader, predicate pushdown works the same as parquet);
    oracle computed straight off the source table, so any loss in the
    round trip diverges the hash."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    path = stage_fixture(
        sf_dir, "lineitem_orc", lambda tmp: li.write.mode("overwrite").orc(tmp)
    )
    back = spark.read.orc(path).filter(F.col("l_quantity") > 10)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


ORC_ROUNDTRIP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_price
FROM lineitem
WHERE l_quantity > 10
GROUP BY 1, 2
"""


#: fragmentation / compaction shape certified by compact_small_files
FRAG_FILES = 64
COMPACT_FILES = 4


def _parquet_files(path: str) -> int:
    return sum(
        1
        for n in os.listdir(path)
        if n.startswith("part-") and n.endswith(".parquet")
    )


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the table-maintenance pass every
    long-lived 100 TB layout needs (streaming/batch appends fragment;
    NameNode/list costs and per-file open overhead grow; compaction
    rewrites to few large range-clustered files).

    Fragment orders into FRAG_FILES shards, compact with
    repartitionByRange(COMPACT_FILES, o_orderdate) — range clustering,
    not round-robin, so each output file covers a tight date span and
    min/max row-group stats prune date predicates after compaction.
    The one-row result certifies file counts (the compaction actually
    happened) and payload (the rewrite lost nothing) against the
    source table.
    """
    o = table(spark, sf_dir, "orders")
    # two atomic stages: frag publishes complete before compact reads
    # it, and each dir flips into place in one rename
    frag = stage_fixture(
        sf_dir,
        "orders_frag",
        lambda tmp: o.repartition(FRAG_FILES)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    compact = stage_fixture(
        sf_dir,
        "orders_compact",
        lambda tmp: spark.read.parquet(frag)
        .repartitionByRange(COMPACT_FILES, "o_orderdate")
        .write.mode("overwrite")
        .parquet(tmp),
    )
    back = spark.read.parquet(compact)
    # hash the INVARIANT, not the exact file counts: repartitionByRange
    # writes no file for an empty range partition, so compact-side
    # count is <= COMPACT_FILES (not ==) across fixtures/scales. The
    # counts come from the listing of this fixture's staged dirs at
    # call time, so no stale-literal hazard.
    n_frag, n_compact = _parquet_files(frag), _parquet_files(compact)
    compacted_ok = n_frag > n_compact and 1 <= n_compact <= COMPACT_FILES
    return back.agg(
        F.lit(bool(compacted_ok)).alias("compaction_ok"),
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("orderkey_sum"),
        # e2-int sum, NOT round(sum(double),4): at sf0.1 the global
        # 3.75e10 float sum diverges cross-engine in the 4th decimal
        # (partial-aggregation order) — per-row floor then integer sum
        # is order-independent at any scale
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("total_price_e2"),
    )


COMPACT_ORACLE = """
SELECT TRUE AS compaction_ok,
       count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS orderkey_sum,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_price_e2
FROM orders
"""


#: compaction task budget for the tier planner
COMPACT_TASKS = 8


def compaction_tier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PLANNING half of table maintenance (`compact_small_files`
    executes a rewrite; this decides WHAT to rewrite): given the
    monthly partition manifest of the orders table (partition → row
    mass, the size proxy), assign contiguous date-ordered partitions
    to COMPACT_TASKS compaction tasks by the offset-bin rule —
    task = exclusive-prefix-mass DIV target — the deterministic
    bin-packing every LSM/lakehouse compactor (Iceberg binpack,
    Delta OPTIMIZE) runs, keeping rewritten files range-clustered so
    min/max pruning survives compaction.

    One row per planned task: file count, row mass, the date range it
    covers, and its skew vs the ideal target in ppm (the number that
    says whether one task will straggle).  Scale: the plan runs on
    the MANIFEST (one map-side-combined aggregate of the table; at
    100 TB the manifest is the catalog listing — thousands of rows),
    and the prefix-sum window is manifest-sized, the same allowlisted
    bounded shape as the calendar series."""
    return _compaction_assignment(spark, sf_dir).groupBy("task_id").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("rows_in").cast("long").alias("rows_total"),
        F.min(F.col("y") * 100 + F.col("m")).cast("long").alias("from_ym"),
        F.max(F.col("y") * 100 + F.col("m")).cast("long").alias("to_ym"),
        F.max("target").cast("long").alias("target_rows"),
    ).select(
        "task_id",
        "n_files",
        "rows_total",
        "from_ym",
        "to_ym",
        F.expr("1000000 * rows_total DIV target_rows")
        .cast("long")
        .alias("fill_ppm"),
    )


def _compaction_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The month→task assignment the tier plan aggregates: one row
    per (y, m) monthly partition with its rows_in mass, the global
    target, and the offset-bin task_id.  Extracted from
    ``compaction_tier_plan`` (round-11 verdict item 7) so the
    EXECUTION contract can rewrite files by the same assignment the
    plan prices — same lineage, two consumers."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    man = o.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
    ).agg(F.count("*").cast("long").alias("rows_in"))
    w = Window.orderBy("y", "m")
    pre = man.select(
        "y",
        "m",
        "rows_in",
        F.coalesce(
            F.sum("rows_in").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cum_excl"),
    )
    tot = pre.agg(
        (F.sum("rows_in").cast("long")).alias("total_rows")
    ).select(
        "total_rows",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"total_rows DIV {COMPACT_TASKS}"),
        ).alias("target"),
    )
    assigned = pre.crossJoin(F.broadcast(tot)).select(
        "y",
        "m",
        "rows_in",
        "target",
        F.least(
            F.expr("cum_excl DIV target"), F.lit(COMPACT_TASKS - 1)
        )
        .cast("long")
        .alias("task_id"),
    )
    return assigned


COMPACTION_PLAN_ORACLE = f"""
WITH man AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(count(*) AS BIGINT) AS rows_in
  FROM orders GROUP BY 1, 2),
pre AS (
  SELECT y, m, rows_in,
         CAST(coalesce(sum(rows_in) OVER (ORDER BY y, m
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_excl
  FROM man),
tot AS (
  SELECT CAST(sum(rows_in) AS BIGINT) AS total_rows,
         greatest(CAST(1 AS BIGINT),
                  CAST(sum(rows_in) AS BIGINT) // {COMPACT_TASKS}) AS target
  FROM pre),
assigned AS (
  SELECT p.y, p.m, p.rows_in, t.target,
         least(p.cum_excl // t.target,
               CAST({COMPACT_TASKS - 1} AS BIGINT)) AS task_id
  FROM pre p, tot t)
SELECT task_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(rows_in) AS BIGINT) AS rows_total,
       CAST(min(y * 100 + m) AS BIGINT) AS from_ym,
       CAST(max(y * 100 + m) AS BIGINT) AS to_ym,
       CAST(1000000 * sum(rows_in) // max(target) AS BIGINT) AS fill_ppm
FROM assigned
GROUP BY 1
"""


def compaction_plan_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTE≡PLAN contract (round-11 verdict item 7):
    ``compaction_tier_plan`` decides, ``compact_small_files`` proved
    a rewrite loses nothing — this query closes the loop by actually
    EXECUTING the tier plan (rewrite the month-partitioned orders
    layout into one file set per planned task, partitioned by
    task_id) and certifying, per task, that the executed files carry
    exactly the planned economics: row mass, month coverage, and
    fill ppm all measured FROM THE WRITTEN FILES and emitted next to
    the planned numbers.  The oracle recomputes both sides from the
    source table — a faithful execution is the only way the executed
    columns can match, the same upsert ≡ rebuild discipline the
    index family uses.  ``one_file_per_task`` certifies the physical
    goal of compaction (each task's dir holds exactly one parquet
    file) from the directory listing at call time.

    Scale shape: the execute pass is one manifest-broadcast join +
    a task-keyed repartition write (COMPACT_TASKS writers); the
    certify pass reads back only the columns it aggregates."""
    asg = _compaction_assignment(spark, sf_dir)
    plan = compaction_tier_plan(spark, sf_dir)
    fact = spark.read.parquet(_monthly_layout(spark, sf_dir))
    ym = (
        F.substring("order_month", 1, 4).cast("long") * 100
        + F.substring("order_month", 6, 2).cast("long")
    ).alias("ym")
    tagged = fact.select(
        "o_orderkey", ym
    ).join(
        F.broadcast(
            asg.select(
                (F.col("y") * 100 + F.col("m")).alias("ym"), "task_id"
            )
        ),
        "ym",
    )
    path = stage_fixture(
        sf_dir,
        "orders_tier_exec",
        lambda tmp: tagged.repartition(COMPACT_TASKS, "task_id")
        .write.partitionBy("task_id")
        .mode("overwrite")
        .parquet(tmp),
    )
    back = spark.read.parquet(path)
    # the executed-side target is re-derived from the WRITTEN files
    # (total DIV tasks), exactly how the plan derived its own — so
    # fill_ppm_executed is an independent measurement, not a copy
    exec_tot = back.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(f"count(*) DIV {COMPACT_TASKS}"),
        ).alias("target_exec")
    )
    executed = (
        back.groupBy("task_id")
        .agg(
            F.count("*").cast("long").alias("rows_executed"),
            F.countDistinct("ym").cast("long").alias("n_months_executed"),
            F.min("ym").cast("long").alias("exec_from_ym"),
            F.max("ym").cast("long").alias("exec_to_ym"),
        )
        .crossJoin(F.broadcast(exec_tot))
    )
    # physical goal of compaction, from the listing at call time
    # (same pattern as compact_small_files' compacted_ok)
    task_dirs = [
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.startswith("task_id=")
    ]
    one_file = bool(task_dirs) and all(
        _parquet_files(d) == 1 for d in task_dirs
    )
    return (
        plan.join(executed, "task_id")
        .select(
            "task_id",
            F.col("n_files").alias("n_months_planned"),
            "n_months_executed",
            F.col("rows_total").alias("rows_planned"),
            "rows_executed",
            "from_ym",
            "exec_from_ym",
            "to_ym",
            "exec_to_ym",
            F.col("fill_ppm").alias("fill_ppm_planned"),
            F.expr("1000000 * rows_executed DIV target_exec")
            .cast("long")
            .alias("fill_ppm_executed"),
            F.lit(one_file).alias("one_file_per_task"),
        )
    )


#: executed columns mirror the planned ones — a faithful execution is
#: the only way the Spark side (measured from the written files) can
#: hash-match this
COMPACTION_EXECUTE_ORACLE = f"""
WITH plan AS ({COMPACTION_PLAN_ORACLE})
SELECT task_id,
       n_files AS n_months_planned,
       n_files AS n_months_executed,
       rows_total AS rows_planned,
       rows_total AS rows_executed,
       from_ym,
       from_ym AS exec_from_ym,
       to_ym,
       to_ym AS exec_to_ym,
       fill_ppm AS fill_ppm_planned,
       fill_ppm AS fill_ppm_executed,
       TRUE AS one_file_per_task
FROM plan
"""


def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → headered CSV sink → schema'd read-back → rollup.
    Completes the format matrix (parquet / ORC / JSONL / CSV). The
    read specifies the schema explicitly (inference is an extra full
    pass) and must reproduce doubles exactly: Spark writes shortest
    round-trip decimal text, so parse(write(x)) == x bit-for-bit and
    the rollup hashes identically to the source table's."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    path = stage_fixture(
        sf_dir,
        "customer_csv",
        lambda tmp: c.write.mode("overwrite")
        .option("header", "true")
        .csv(tmp),
    )
    back = (
        spark.read.schema(
            "c_custkey bigint, c_nationkey bigint, c_mktsegment string, c_acctbal double"
        )
        .option("header", "true")
        .csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.sum("c_custkey").cast("long").alias("custkey_sum"),
        F.round(F.sum("c_acctbal"), 4).alias("acctbal_sum"),
        F.round(F.min("c_acctbal"), 4).alias("acctbal_min"),
    )


CSV_ROUNDTRIP_ORACLE = """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(c_custkey) AS BIGINT) AS custkey_sum,
       round(sum(c_acctbal), 4) AS acctbal_sum,
       round(min(c_acctbal), 4) AS acctbal_min
FROM customer
GROUP BY 1
"""


#: the day the backfill drop corrects
BACKFILL_DAY = "2024-01-15"


def dynamic_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT-OVERWRITE-one-partition backfill, the warehouse re-run
    primitive the reference approximates with row upserts
    (`CSV PARSER/gcp_csv.py:159-193`): load events day-partitioned,
    then land a corrected drop for one day under
    ``partitionOverwriteMode=dynamic`` — only that day's directory is
    rewritten; every other partition's files are untouched.

    The read-back aggregate certifies both halves: untouched days
    carry original values, the backfilled day carries corrected
    (doubled) values. Scale: the backfill writes O(one day), not
    O(table) — dynamic mode is what makes per-partition re-runs
    constant-cost at warehouse scale."""
    import shutil

    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.floor(F.col("value") * 1e4).cast("long").alias("value_e4"),
    )
    out = sink_dir(sf_dir, "dynamic_partition_backfill")
    shutil.rmtree(out, ignore_errors=True)
    e.write.partitionBy("day").mode("overwrite").parquet(out)

    corrected = e.filter(F.col("day") == F.lit(BACKFILL_DAY)).withColumn(
        "value_e4", F.col("value_e4") * 2
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        corrected.write.partitionBy("day").mode("overwrite").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)

    back = spark.read.parquet(out)
    return back.agg(
        F.countDistinct("day").alias("n_days"),
        F.count("*").alias("n_rows"),
        F.sum("value_e4").cast("long").alias("total_value_e4"),
        F.sum(
            F.when(F.col("day") == F.lit(BACKFILL_DAY), F.col("value_e4"))
        )
        .cast("long")
        .alias("backfilled_day_value_e4"),
    )


DPO_BACKFILL_ORACLE = f"""
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(floor(value * 10000) AS BIGINT) AS value_e4
  FROM events),
adj AS (
  SELECT day,
         CASE WHEN day = DATE '{BACKFILL_DAY}' THEN value_e4 * 2
              ELSE value_e4 END AS value_e4
  FROM e)
SELECT count(DISTINCT day) AS n_days,
       count(*) AS n_rows,
       CAST(sum(value_e4) AS BIGINT) AS total_value_e4,
       CAST(sum(CASE WHEN day = DATE '{BACKFILL_DAY}' THEN value_e4 END) AS BIGINT)
         AS backfilled_day_value_e4
FROM adj
"""


def schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches of the orders table
    written with DIFFERENT schemas (batch 1 before the ``o_totalprice``
    column existed, batch 2 after) are read back as one table with
    ``mergeSchema`` — the late-added column is NULL for the old batch.
    The audit certifies row conservation, that exactly the batch-1
    rows carry NULL, and that the surviving values sum to the source's
    batch-2 sum — i.e. evolution dropped and invented nothing.

    Scale note: ``mergeSchema`` reconciles footers at planning time —
    at a 100 TB layout you pay one footer read per file, which is why
    the batch layout (few large files per schema vintage) matters more
    than the option itself; the certified semantics are identical."""
    o = table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    new = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def build(tmp: str) -> None:
        old.write.mode("overwrite").parquet(os.path.join(tmp, "batch=1"))
        new.write.mode("overwrite").parquet(os.path.join(tmp, "batch=2"))

    base = stage_fixture(sf_dir, "orders_evo", build)
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("n_null_evolved"),
        F.sum((F.col("o_orderkey") % 2 == 0).cast("long")).alias("n_old_batch"),
        # floor-scale per row BEFORE summing: a float sum is partial-
        # aggregation-order-dependent in ulps (repo rounding rule)
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("evolved_sum_e2"),
    )


SCHEMA_EVO_ORACLE = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_evolved,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_old_batch,
       CAST(sum(CASE WHEN o_orderkey % 2 = 1
                THEN CAST(floor(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS evolved_sum_e2
FROM orders
"""


def corrupt_file_tolerant_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE error tolerance at the parquet layer — the columnar
    analogue of the reference's per-file CSV tolerance (SURVEY F5,
    `CSV PARSER/gcp_csv.py:86-88`) and of the JSONL corrupt-record
    quarantine: a landing directory holds three good shards and one
    truncated/garbage file (a crashed writer's leftover); with
    ``spark.sql.files.ignoreCorruptFiles`` the scan survives and
    yields exactly the good shards' rows, certified by checksum
    against the source table.

    Scale: corruption tolerance is per-split, so one bad file never
    fails the 100 TB scan; the skipped-file count surfaces via the
    row-count delta a DQ gate would alarm on."""
    import shutil

    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for i in range(3):
            part = f"{tmp}/stage_{i}"
            d.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(part)
            (src,) = [
                f
                for f in os.listdir(part)
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            shutil.copyfile(os.path.join(part, src), f"{tmp}/good-{i}.parquet")
            shutil.rmtree(part)
        with open(f"{tmp}/bad-trunc.parquet", "wb") as fh:
            fh.write(b"PAR1 this is not a parquet footer")

    out_dir = stage_fixture(sf_dir, "corrupt_read", build)

    # per-read OPTION, not a session conf: the returned frame is lazy,
    # so a conf set-then-restore here would be unwound before the
    # driver ever runs the scan
    back = (
        spark.read.schema("doc_id long, n_chars long")
        .option("ignoreCorruptFiles", "true")
        .parquet(out_dir)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
    )


CORRUPT_TOLERANT_ORACLE = """
SELECT count(*) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents
"""


QUERIES = {
    "partitioned_sink_roundtrip": partitioned_sink_roundtrip,
    "dpp_monthly_join": dpp_monthly_join,
    "orc_sink_roundtrip": orc_sink_roundtrip,
    "compact_small_files": compact_small_files,
    "compaction_tier_plan": compaction_tier_plan,
    "compaction_plan_execute": compaction_plan_execute,
    "csv_sink_roundtrip": csv_sink_roundtrip,
    "dynamic_partition_backfill": dynamic_partition_backfill,
    "schema_evolution_roundtrip": schema_evolution_roundtrip,
    "corrupt_file_tolerant_read": corrupt_file_tolerant_read,
}

ORACLES = {
    "partitioned_sink_roundtrip": SINK_ROUNDTRIP_ORACLE,
    "dpp_monthly_join": DPP_ORACLE,
    "orc_sink_roundtrip": ORC_ROUNDTRIP_ORACLE,
    "compact_small_files": COMPACT_ORACLE,
    "compaction_tier_plan": COMPACTION_PLAN_ORACLE,
    "compaction_plan_execute": COMPACTION_EXECUTE_ORACLE,
    "csv_sink_roundtrip": CSV_ROUNDTRIP_ORACLE,
    "dynamic_partition_backfill": DPO_BACKFILL_ORACLE,
    "schema_evolution_roundtrip": SCHEMA_EVO_ORACLE,
    "corrupt_file_tolerant_read": CORRUPT_TOLERANT_ORACLE,
}
