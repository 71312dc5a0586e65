"""Z-order (Morton) multi-dimensional clustering for data skipping.

One-dimensional sort (`plans/sinks.compact_small_files` range-clusters
by date) makes min/max row-group stats selective on ONE column; a
100 TB fact queried by *two* dominant predicates (customer AND date)
needs multi-dimensional clustering — sort by the interleaved-bit
Morton code of both bucketed dims and every file covers a small
rectangle of (customer, date) space, so either predicate prunes.

The z-value is pure integer bit math (shift/mask/add over disjoint
bit positions), exact in both engines — the oracle certifies the
interleave itself. `tests/test_zorder.py` certifies the *clustering
claim*: over consecutive row runs, z-sorted bounding boxes cover far
less (x, y) area than 1-d-sorted ones — the measurable win that
min/max skipping inherits.

At scale: compute z once at write time, `repartitionByRange(z)` +
sortWithinPartitions(z) → parquet; the query side is unchanged (stats
pruning is automatic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table

BITS = 8  # per-dimension bits → 16-bit z-value
DIM_MOD = 1 << BITS
ZB_DIV = 256  # z-values per reported bucket


def zvalue(x: Column, y: Column, bits: int = BITS) -> Column:
    """Morton interleave of two ``bits``-bit non-negative ints: x in
    even positions, y in odd. Disjoint bit positions → sum == or."""
    parts = []
    for i in range(bits):
        parts.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        parts.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    z = parts[0]
    for p in parts[1:]:
        z = z + p
    return z


def _zvalue_sql(x: str, y: str, bits: int = BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def zorder_clustering_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders keyed by (custkey bucket, epoch-day bucket) → z-value →
    per-z-bucket bounding-box stats. The area column is what min/max
    skipping sees per file after a z-ordered write."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % DIM_MOD).cast("int")
    y = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        % DIM_MOD
    ).cast("int")
    d = o.select(x.alias("x"), y.alias("y"))
    d = d.withColumn("zb", (zvalue(F.col("x"), F.col("y")) / ZB_DIV).cast("long"))
    return d.groupBy("zb").agg(
        F.count("*").alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        (
            (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
        ).cast("long").alias("bbox_area"),
    )


def hilbert_clustering_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering stats over the same (custkey bucket,
    epoch-day bucket) plane as `zorder_clustering_stats` — the layout
    the z-order advisor graduates to: the Hilbert curve preserves
    locality strictly better than Morton order (consecutive curve
    positions are always grid-adjacent; z-order jumps at quadrant
    seams), so equal curve ranges cover tighter bounding boxes and
    min/max skipping prunes more.  `tests/test_r11_ops.py` pins the
    index against the textbook xy2d replay and quantifies the
    locality win against z-order on the same rows.

    The curve index is 8 unrolled rounds of the standard xy2d
    rotate/flip recurrence, one projection per round so the
    expression tree stays flat; the quadrant XOR (3·rx)⊕ry is spelled
    arithmetically (3·rx + ry − 2·rx·ry — identical truth table) so
    neither engine needs a bitwise-xor operator.  Pure integer math,
    exact in both engines."""
    o = table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % DIM_MOD).cast("int")
    y = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        % DIM_MOD
    ).cast("int")
    d = o.select(x.alias("hx"), y.alias("hy")).withColumn(
        "hd", F.lit(0).cast("long")
    )
    # keep the ORIGINAL coords for the bbox stats; hx/hy mutate
    d = d.withColumn("x", F.col("hx")).withColumn("y", F.col("hy"))
    for i in range(BITS - 1, -1, -1):
        s = 1 << i
        d = d.select(
            "x",
            "y",
            F.expr(
                f"hd + {s * s} * (3 * ((hx DIV {s}) % 2)"
                f" + ((hy DIV {s}) % 2)"
                f" - 2 * ((hx DIV {s}) % 2) * ((hy DIV {s}) % 2))"
            ).alias("hd"),
            F.expr(
                f"CASE WHEN (hy DIV {s}) % 2 = 0 THEN"
                f" CASE WHEN (hx DIV {s}) % 2 = 1"
                f"  THEN {DIM_MOD - 1} - hy ELSE hy END"
                f" ELSE hx END"
            ).alias("hx"),
            F.expr(
                f"CASE WHEN (hy DIV {s}) % 2 = 0 THEN"
                f" CASE WHEN (hx DIV {s}) % 2 = 1"
                f"  THEN {DIM_MOD - 1} - hx ELSE hx END"
                f" ELSE hy END"
            ).alias("hy"),
        )
    d = d.withColumn("hb", F.expr(f"hd DIV {ZB_DIV}").cast("long"))
    return d.groupBy("hb").agg(
        F.count("*").alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        ((F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1))
        .cast("long")
        .alias("bbox_area"),
    )


def _hilbert_rounds_sql() -> str:
    """Chained per-round CTEs replaying the exact xy2d recurrence the
    Spark plan runs (same arithmetic xor spelling)."""
    parts = [
        f"h{BITS} AS (SELECT x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd FROM d)"
    ]
    for i in range(BITS - 1, -1, -1):
        s = 1 << i
        parts.append(f"""
h{i} AS (
  SELECT x, y,
         hd + {s * s} * (3 * ((hx // {s}) % 2) + ((hy // {s}) % 2)
              - 2 * ((hx // {s}) % 2) * ((hy // {s}) % 2)) AS hd,
         CASE WHEN (hy // {s}) % 2 = 0 THEN
           CASE WHEN (hx // {s}) % 2 = 1
            THEN {DIM_MOD - 1} - hy ELSE hy END
          ELSE hx END AS hx,
         CASE WHEN (hy // {s}) % 2 = 0 THEN
           CASE WHEN (hx // {s}) % 2 = 1
            THEN {DIM_MOD - 1} - hx ELSE hx END
          ELSE hy END AS hy
  FROM h{i + 1})""")
    return ",".join(parts)


_X_SQL = f"CAST(o_custkey % {DIM_MOD} AS INT)"
_Y_SQL = (
    f"CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % {DIM_MOD} AS INT)"
)

ZORDER_ORACLE = f"""
WITH d AS (
  SELECT {_X_SQL} AS x, {_Y_SQL} AS y FROM orders),
z AS (
  SELECT x, y, CAST(({_zvalue_sql('x', 'y')}) // {ZB_DIV} AS BIGINT) AS zb FROM d)
SELECT zb, count(*) AS n,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT) AS bbox_area
FROM z
GROUP BY 1
"""

HILBERT_ORACLE = f"""
WITH d AS (
  SELECT {_X_SQL} AS x, {_Y_SQL} AS y FROM orders),
{_hilbert_rounds_sql()},
hb AS (
  SELECT x, y, CAST(hd // {ZB_DIV} AS BIGINT) AS hb FROM h0)
SELECT hb, count(*) AS n,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       CAST((max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS BIGINT) AS bbox_area
FROM hb
GROUP BY 1
"""


#: zone-map simulation constants: anchor for epoch-day math (fixture
#: shipdates start 1995-01-02 so every offset is non-negative and
#: plain DIV == floor in both engines), synthetic file sizes for the
#: two layouts, and the probe grid (calendar quarters spanning the
#: fixture's shipdate domain — computed once at import, deterministic)
import datetime as _dt

_ZM_ANCHOR = _dt.date(1995, 1, 1)
ZM_ARRIVAL_SPAN = 512  # orderkeys per arrival-order file
ZM_CLUSTER_DAYS = 30  # days per range-clustered file


def _zm_quarters() -> list[tuple[str, int, int]]:
    out = []
    for y in range(1995, 2002):
        for q in range(1, 5):
            lo = _dt.date(y, 3 * q - 2, 1)
            hi = _dt.date(y + 1, 1, 1) if q == 4 else _dt.date(y, 3 * q + 1, 1)
            out.append(
                (f"{y}Q{q}", (lo - _ZM_ANCHOR).days, (hi - _ZM_ANCHOR).days)
            )
    return out


ZM_PROBES = _zm_quarters()


def zonemap_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-statistics) pruning economics — the
    report that tells you whether a table's physical layout actually
    prunes, BEFORE you pay for a re-cluster.  Companion to
    `zorder_clustering_stats` (which measures bounding-box tightness
    of a hypothetical z-ordered layout); this one runs the whole skipping
    pipeline end to end: assign rows to synthetic files under two
    layouts — `arrival` (orderkey order, how the fact lands from
    ingest) and `clustered` (shipdate range files, what a
    repartitionByRange(shipdate) write produces) — build each file's
    [min, max] shipdate zone map, then replay a grid of quarterly
    shipdate probes against the maps and report, per (layout, probe):
    files skipped, rows scanned (surviving files' row counts), rows
    actually matching, and scan efficiency = matched / scanned in
    ppm (floor(x·1e6) — quotients of counts must never be
    decimal-rounded across engines).

    The plan never touches row-level data per probe: file stats and a
    per-day histogram are aggregated ONCE (two map-side-combined
    groupBys over one scan each), then the 28-probe grid broadcast-
    joins against those tiny summaries — the same metadata-only shape
    a real engine's pruning planner runs, which is why the report
    stays cheap at 100 TB (file stats are O(files), never O(rows)).
    Exact integer contract end to end (the efficiency quotient is
    floored to integer ppm)."""
    li = table(spark, sf_dir, "lineitem")
    day = F.datediff(
        F.to_date("l_shipdate"), F.lit(str(_ZM_ANCHOR)).cast("date")
    )
    rows = li.select(
        day.alias("d"),
        F.floor(F.col("l_orderkey") / ZM_ARRIVAL_SPAN)
        .cast("long")
        .alias("arrival_file"),
    ).withColumn(
        "clustered_file", F.floor(F.col("d") / ZM_CLUSTER_DAYS).cast("long")
    )

    def file_stats(layout: str, file_col: str) -> DataFrame:
        return (
            rows.groupBy(F.col(file_col).alias("file_id"))
            .agg(
                F.min("d").alias("min_d"),
                F.max("d").alias("max_d"),
                F.count("*").cast("long").alias("n_rows"),
            )
            .select(F.lit(layout).alias("layout"), "file_id", "min_d", "max_d", "n_rows")
        )

    fstats = file_stats("arrival", "arrival_file").unionByName(
        file_stats("clustered", "clustered_file")
    )
    daily = rows.groupBy("d").agg(F.count("*").cast("long").alias("n_rows"))
    probes = spark.createDataFrame(ZM_PROBES, "probe string, d_lo int, d_hi int")

    skipped = (F.col("max_d") < F.col("d_lo")) | (F.col("min_d") >= F.col("d_hi"))
    per_layout = (
        fstats.join(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(skipped.cast("long")).cast("long").alias("n_files_skipped"),
            F.sum(F.when(~skipped, F.col("n_rows")).otherwise(F.lit(0)))
            .cast("long")
            .alias("rows_scanned"),
        )
    )
    matched = (
        daily.join(F.broadcast(probes))
        .filter((F.col("d") >= F.col("d_lo")) & (F.col("d") < F.col("d_hi")))
        .groupBy("probe")
        .agg(F.sum("n_rows").cast("long").alias("rows_matched"))
    )
    return (
        per_layout.join(F.broadcast(matched), "probe", "left")
        .select(
            "layout",
            "probe",
            "n_files",
            "n_files_skipped",
            "rows_scanned",
            F.coalesce("rows_matched", F.lit(0)).cast("long").alias("rows_matched"),
            F.floor(
                F.coalesce("rows_matched", F.lit(0))
                / F.greatest(F.col("rows_scanned"), F.lit(1))
                * 1e6
            )
            .cast("long")
            .alias("scan_efficiency_ppm"),
        )
    )


_ZM_PROBES_SQL = ",\n    ".join(
    f"('{p}', {lo}, {hi})" for p, lo, hi in ZM_PROBES
)

ZONEMAP_ORACLE = f"""
WITH rows_d AS (
  SELECT date_diff('day', DATE '{_ZM_ANCHOR}', CAST(l_shipdate AS DATE)) AS d,
         CAST(floor(l_orderkey / {ZM_ARRIVAL_SPAN}) AS BIGINT) AS arrival_file,
         CAST(floor(date_diff('day', DATE '{_ZM_ANCHOR}',
                              CAST(l_shipdate AS DATE)) / {ZM_CLUSTER_DAYS})
              AS BIGINT) AS clustered_file
  FROM lineitem),
fstats AS (
  SELECT 'arrival' AS layout, arrival_file AS file_id,
         min(d) AS min_d, max(d) AS max_d,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM rows_d GROUP BY 2
  UNION ALL
  SELECT 'clustered', clustered_file, min(d), max(d),
         CAST(count(*) AS BIGINT)
  FROM rows_d GROUP BY 2),
daily AS (
  SELECT d, CAST(count(*) AS BIGINT) AS n_rows FROM rows_d GROUP BY 1),
probes(probe, d_lo, d_hi) AS (
  VALUES {_ZM_PROBES_SQL}),
per_layout AS (
  SELECT f.layout, p.probe,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN f.max_d < p.d_lo OR f.min_d >= p.d_hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_files_skipped,
         CAST(sum(CASE WHEN f.max_d < p.d_lo OR f.min_d >= p.d_hi
                       THEN 0 ELSE f.n_rows END) AS BIGINT) AS rows_scanned
  FROM fstats f CROSS JOIN probes p
  GROUP BY 1, 2),
matched AS (
  SELECT p.probe, CAST(sum(dd.n_rows) AS BIGINT) AS rows_matched
  FROM daily dd JOIN probes p ON dd.d >= p.d_lo AND dd.d < p.d_hi
  GROUP BY 1)
SELECT pl.layout, pl.probe, pl.n_files, pl.n_files_skipped, pl.rows_scanned,
       CAST(coalesce(m.rows_matched, 0) AS BIGINT) AS rows_matched,
       CAST(floor(CAST(coalesce(m.rows_matched, 0) AS DOUBLE)
                  / greatest(pl.rows_scanned, 1) * 1e6)
            AS BIGINT) AS scan_efficiency_ppm
FROM per_layout pl LEFT JOIN matched m ON pl.probe = m.probe
"""


QUERIES = {
    "zorder_clustering_stats": zorder_clustering_stats,
    "hilbert_clustering_stats": hilbert_clustering_stats,
    "zonemap_file_skipping": zonemap_file_skipping,
}

ORACLES = {
    "zorder_clustering_stats": ZORDER_ORACLE,
    "hilbert_clustering_stats": HILBERT_ORACLE,
    "zonemap_file_skipping": ZONEMAP_ORACLE,
}
