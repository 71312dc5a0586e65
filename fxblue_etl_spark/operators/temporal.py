"""Temporal operators Spark lacks natively: as-of join, range join,
hypertable-style rollup, heavy hitters.

The reference's data is implicitly temporal — trades keyed by
``timestamp``/``open_time`` (`CSV PARSER/gcp_csv.py:92,102-105`) and
account-equity snapshots interleaved with position rows in feed order
(`RSS PARSER/gcp_rss.py:86-92`). Its only temporal operator is the
snapshot forward-fill W1; an analysis surface over such data also
needs the classic time-series joins this module provides, each
re-expressed as compositions of built-in DataFrame ops (SURVEY §2.13
"custom operators" route (a) — no UDF, no mapPartitions):

* **As-of join** — the union+window formulation: tag both sides, union,
  one shuffle on (key, ts), ``last(..., ignorenulls)`` over an
  unbounded-preceding frame. Linear in input, no range-join explosion,
  and the single shuffle is on the same key a subsequent per-key
  aggregate would need. This is how kdb's ``aj`` / pandas
  ``merge_asof`` semantics map onto a shuffle engine at 100 TB: the
  quote side is usually far larger than the trade side, and a
  broadcast-range approach dies exactly when it matters.
* **Range join** — interval dim × fact value: explode each interval
  into the fixed-width buckets it covers, broadcast equi-join on
  bucket id, exact ``[lo, hi)`` filter after. Turns an O(n·m)
  broadcast-nested-loop join into a broadcast hash join; bucket width
  trades duplication on the (tiny) interval side for selectivity.
* **Hypertable rollup** — TimescaleDB-style continuous aggregate:
  fine buckets hold decomposable partials (count/sum/max); the coarse
  level re-aggregates the partials, never the raw rows. At scale the
  fine level is the materialized rollup table and every coarser
  resolution derives from it for free.
* **Heavy hitters** — exact top-k by frequency (two-phase: partial
  count per partition, merged — plain groupBy), plus a Count-Min
  sketch over an md5-derived hash family, so its counter table and
  estimates reproduce in the oracle engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table


# ── As-of join ───────────────────────────────────────────────────────────

def asof_join(
    trades: DataFrame,
    quotes: DataFrame,
    key: str,
    trade_ts: str = "ts",
    quote_ts: str = "ts",
    quote_cols: tuple[str, ...] = ("value",),
    prefix: str = "asof_",
) -> DataFrame:
    """For each trade row, attach the most recent quote row with
    ``quote.ts <= trade.ts`` for the same key (inclusive as-of,
    matching DuckDB ``ASOF JOIN`` / pandas ``merge_asof``).

    Union + window — ONE shuffle on ``key``, linear in rows; never a
    range-join product. Quote columns come back as ``{prefix}{col}``,
    plus ``{prefix}ts`` for the matched quote's timestamp; trades with
    no prior quote keep NULLs (left-join semantics).

    The whole quote row travels as ONE struct filled by a single
    ``last(ignorenulls)`` — not one window per quote column, which
    would skip a quote's NULL field and attach that field from an
    *older* quote row, diverging from DuckDB ASOF / pandas merge_asof
    row-level semantics (the matched row is matched wholesale, NULL
    fields included).
    """
    q = quotes.select(
        F.col(key).alias(key),
        F.col(quote_ts).alias("__ts"),
        F.lit(0).alias("__is_trade"),
        F.struct(
            F.col(quote_ts).alias("ts"), *[F.col(c).alias(c) for c in quote_cols]
        ).alias("__q"),
    )
    t = (
        trades.withColumn("__ts", F.col(trade_ts))
        .withColumn("__is_trade", F.lit(1))
        .withColumn("__q", F.lit(None).cast(q.schema["__q"].dataType))
    )
    u = t.unionByName(q, allowMissingColumns=True)

    # quote sorts before trade at equal ts → inclusive (ts >= quote ts)
    w = (
        Window.partitionBy(key)
        .orderBy(F.asc("__ts"), F.asc("__is_trade"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("__qm", F.last("__q", ignorenulls=True).over(w))
    keep = [F.col(c) for c in trades.columns] + [
        F.col("__qm.ts").alias(f"{prefix}ts")
    ] + [F.col(f"__qm.{c}").alias(f"{prefix}{c}") for c in quote_cols]
    return filled.filter(F.col("__is_trade") == 1).select(*keep)


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event joined as-of to the user's most recent view:
    the 'trade gets the prevailing quote' shape on the events fixture."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(purchases, views, key="user_id", quote_cols=("value",))
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("trade_ts_us"),
        F.round("value", 4).alias("trade_value"),
        F.unix_micros("asof_ts").alias("view_ts_us"),
        F.round("asof_value", 4).alias("view_value"),
    )


ASOF_ORACLE = """
SELECT t.event_id,
       t.user_id,
       epoch_us(t.ts) AS trade_ts_us,
       round(t.value, 4) AS trade_value,
       epoch_us(q.ts) AS view_ts_us,
       round(q.value, 4) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') t
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
  ON t.user_id = q.user_id AND t.ts >= q.ts
"""


# ── Range join (interval dim × fact value) ───────────────────────────────

def range_join_buckets(
    facts: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 10.0,
) -> DataFrame:
    """Join fact rows to ``[lo, hi)`` intervals via a bucketed equi-join.

    Each interval explodes to the fixed-width buckets it overlaps
    (duplication only on the tiny interval side); facts compute one
    bucket id; broadcast hash join on bucket id; exact half-open
    range filter last. Replaces the O(n·m) broadcast-nested-loop plan
    Spark would otherwise pick for a pure ``BETWEEN`` join condition.
    """
    w = F.lit(bucket_width)
    exploded = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w)
            )
        ),
    )
    bucketed = facts.withColumn("__bucket", F.floor(F.col(value_col) / w))
    return (
        bucketed.join(F.broadcast(exploded), "__bucket")
        .filter((F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)))
        .drop("__bucket")
    )


#: Non-overlapping, bucket-misaligned price bands: misalignment proves
#: the exact post-filter does the precision work, not bucket luck.
_PRICE_BANDS = [
    ("budget", 900.0, 926.0),
    ("mid", 926.0, 947.5),
    ("premium", 947.5, 975.0),
    ("luxury", 975.0, 1000.01),
]


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    joined = range_join_buckets(p, bands, "p_retailprice", bucket_width=10.0)
    return joined.groupBy("band").agg(
        F.count("*").alias("n_parts"),
        # floored 1e4-scaled avg: sum/count quotient half-boundary rule
        F.floor(F.avg("p_retailprice") * 1e4).alias("avg_price_e4"),
        F.round(F.min("p_retailprice"), 4).alias("min_price"),
        F.round(F.max("p_retailprice"), 4).alias("max_price"),
    )


RANGE_JOIN_ORACLE = """
WITH bands(band, lo, hi) AS (VALUES
    ('budget', 900.0, 926.0),
    ('mid', 926.0, 947.5),
    ('premium', 947.5, 975.0),
    ('luxury', 975.0, 1000.01))
SELECT band,
       count(*) AS n_parts,
       CAST(floor(avg(p_retailprice) * 1e4) AS BIGINT) AS avg_price_e4,
       round(min(p_retailprice), 4) AS min_price,
       round(max(p_retailprice), 4) AS max_price
FROM part
JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band
"""


# ── Hypertable-style continuous aggregate ────────────────────────────────

def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level continuous aggregate over ``events``: 15-minute fine
    buckets holding decomposable partials (count/sum/max), and a daily
    level computed FROM the partials — count-of-counts, sum-of-sums,
    max-of-maxes — never re-reading raw rows. Both levels returned
    union-tagged. (No derived avg column: sum/count quotients land on
    exact decimal half-boundaries — e.g. x.xx/8 — where Spark's
    shortest-string HALF_UP round and DuckDB's binary-double round
    legitimately disagree; averages are oracle-checked elsewhere.)
    """
    e = table(spark, sf_dir, "events")
    fine = (
        e.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_v"),
            F.max("value").alias("max_v"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_v", "max_v")
    )
    daily = (
        fine.groupBy(F.date_trunc("day", "bucket").alias("bucket"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_v").alias("sum_v"),
            F.max("max_v").alias("max_v"),
        )
    )

    def out(df: DataFrame, level: str) -> DataFrame:
        return df.select(
            F.lit(level).alias("level"),
            F.date_format("bucket", "yyyy-MM-dd HH:mm").alias("bucket"),
            "event_type",
            "n_events",
            F.round("sum_v", 4).alias("sum_value"),
            F.round("max_v", 4).alias("max_value"),
        )

    return out(fine, "15m").unionByName(out(daily, "1d"))


TIME_BUCKET_ORACLE = """
WITH fine AS (
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket, event_type,
           count(*) AS n_events, sum(value) AS sum_v, max(value) AS max_v
    FROM events GROUP BY 1, 2),
daily AS (
    SELECT date_trunc('day', bucket) AS bucket, event_type,
           sum(n_events) AS n_events, sum(sum_v) AS sum_v, max(max_v) AS max_v
    FROM fine GROUP BY 1, 2)
SELECT '15m' AS level, strftime(bucket, '%Y-%m-%d %H:%M') AS bucket, event_type,
       n_events, round(sum_v, 4) AS sum_value, round(max_v, 4) AS max_value
FROM fine
UNION ALL
SELECT '1d', strftime(bucket, '%Y-%m-%d %H:%M'), event_type,
       CAST(n_events AS BIGINT), round(sum_v, 4), round(max_v, 4)
FROM daily
"""


# ── Heavy hitters ────────────────────────────────────────────────────────

def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 parts by lineitem frequency, deterministic tiebreak.

    groupBy + count is already the two-phase algorithm at scale
    (map-side partial counts, one shuffle of distinct keys); the
    top-k sort runs on the aggregated (small) side only.
    """
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_partkey")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .orderBy(F.desc("n_items"), F.asc("l_partkey"))
        .limit(20)
    )


HEAVY_HITTERS_ORACLE = """
SELECT l_partkey, count(*) AS n_items, round(sum(l_quantity), 4) AS sum_qty
FROM lineitem
GROUP BY l_partkey
ORDER BY n_items DESC, l_partkey ASC
LIMIT 20
"""


#: CMS geometry: d independent hash rows × w counters. w bounds the
#: over-estimate at ~e·N/w; d drives the confidence. 4×8192 ints is
#: 128 KiB — trivially broadcastable state no matter the input size.
_CMS_DEPTH = 4
_CMS_WIDTH = 8192


def _cms_md5_buckets(key):
    """The ENGINE-NEUTRAL (md5-derived) Count-Min bucket array: one
    (row, bucket) struct per hash row, row i hashing ``cms{i}|key`` —
    shared by :func:`cms_counters` and the top-k probe so both use the
    hash family byte-for-byte."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"cms{i}|"), key.cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_WIDTH
                ).alias("b"),
            )
            for i in range(_CMS_DEPTH)
        ]
    )


def cms_counters(df: DataFrame, *by: str) -> DataFrame:
    """The portable Count-Min counter table ``(*by, d, b, cnt)`` of
    ``df``'s ``l_partkey``: one row per touched (row, bucket) cell —
    the one partial behind the top-k probe, the upsert contract and
    the streaming maintenance fold.  ``by`` adds group keys (the
    contract's parity pass builds both partials in one pass)."""
    return (
        df.select(*by, F.explode(_cms_md5_buckets(F.col("l_partkey"))).alias("db"))
        .groupBy(*by, F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """SUM-merge of two counter tables: counters are per-cell sums, so
    ``cms_merge(cms_counters(A), cms_counters(B)) == cms_counters(A ∪ B)``
    cell for cell."""
    return a.unionByName(b).groupBy("d", "b").agg(F.sum("cnt").cast("long").alias("cnt"))


def portable_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min with an ENGINE-NEUTRAL hash family (md5-derived, like
    ``portable_bloom_contract`` / ``portable_hll_registers``): the
    exact counter table and therefore the exact estimates reproduce
    in any engine, so the sketch gains a full value-level oracle.
    Plan shape: build = explode d buckets → one groupBy (counter table
    ≤ d·w rows, broadcastable); probe = top-20 exact keys joined to
    their d counters, min per key.  The CMS one-sided guarantee
    (estimate ≥ exact) is re-assertable cross-engine here because
    both engines agree on every collision."""
    from ..io import fan_out

    # narrow projection + fan_out: the md5 bucket explode is per-row
    # CPU work; a single-split fixture scan serializes it on one core
    # (no-op at real scale — guide §2.5 input skew)
    l = fan_out(table(spark, sf_dir, "lineitem").select("l_partkey"))
    counters = cms_counters(l)
    candidates = (
        heavy_hitters_exact(spark, sf_dir)
        .select(F.col("l_partkey"), F.col("n_items").alias("exact_count"))
        .withColumn("db", F.explode(_cms_md5_buckets(F.col("l_partkey"))))
        .select(
            "l_partkey", "exact_count", F.col("db.d").alias("d"), F.col("db.b").alias("b")
        )
    )
    return (
        counters.join(F.broadcast(candidates), ["d", "b"])
        .groupBy("l_partkey", "exact_count")
        .agg(F.min("cnt").cast("long").alias("cms_estimate"))
    )


def _portable_cms_oracle() -> str:
    from .dedup import _hex8_sql

    def bucket(i: int) -> str:
        md5_sql = f"md5('cms{i}|' || CAST(l_partkey AS VARCHAR))"
        return f"({_hex8_sql(md5_sql, 1)}) % {_CMS_WIDTH}"

    build_legs = " UNION ALL ".join(
        f"SELECT {i} AS d, {bucket(i)} AS b FROM lineitem"
        for i in range(_CMS_DEPTH)
    )
    cand_legs = " UNION ALL ".join(
        f"SELECT l_partkey, exact_count, {i} AS d, {bucket(i)} AS b FROM top"
        for i in range(_CMS_DEPTH)
    )
    return f"""
WITH counters AS (
  SELECT d, b, count(*) AS cnt FROM ({build_legs}) GROUP BY 1, 2),
top AS (
  SELECT l_partkey, count(*) AS exact_count
  FROM lineitem GROUP BY 1
  ORDER BY exact_count DESC, l_partkey ASC LIMIT 20),
cand AS ({cand_legs})
SELECT c.l_partkey, c.exact_count,
       CAST(min(k.cnt) AS BIGINT) AS cms_estimate
FROM cand c JOIN counters k USING (d, b)
GROUP BY 1, 2
"""


PORTABLE_CMS_ORACLE = _portable_cms_oracle()


def countmin_upsert_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental-maintenance contract for the portable Count-Min
    sketch — the frequency member of the upsert ≡ rebuild family
    (Bloom ORs, HLL MAXes, the Gram and CMS ADD): counter tables are
    per-cell sums, so ``sum-merge(cms(A), cms(B)) == cms(A ∪ B)``
    holds EXACTLY for any split of the stream — per-vintage sketches
    roll up to any range without raw data, and deletes work by
    negative merge.  Split: interleaved even/odd l_orderkey; the
    contract compares every (d, b) cell against the one-shot rebuild
    and emits checksums the oracle re-derives from the stream alone.
    """
    from ..io import fan_out, swap_cache

    # narrow projection before the (possible) fan_out repartition so
    # only the two needed columns ever shuffle (guide §2.3); fan_out
    # because the md5 bucket explode is per-row CPU work and a
    # single-split fixture scan would serialize ~12 md5s/row on one
    # core (no-op at real scale — guide §2.5 input skew)
    l = fan_out(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    )

    # ONE parity-tagged build pass yields BOTH partial counter tables
    # (base = even-l_orderkey rows, delta = odd): grouping by
    # (parity, d, b) over all rows produces, per parity value, exactly
    # the cell counts the former per-side filter+build computed —
    # count over a disjoint split is the split of the count.  The
    # persisted frame stays sketch-state-bounded (≤ 2·d·w rows) and
    # the contract's REBUILD side below remains an independent
    # one-shot pass over the stream, so merge ≡ rebuild is still
    # certified end-to-end, now from 2 stream passes instead of 3
    # (guide §2.4; r14 scan sweep had already cut 5 → 3).
    parts = swap_cache(
        "temporal.cms_upsert_parts",
        cms_counters(l.withColumn("par", F.col("l_orderkey") % 2), "par"),
    )
    base = parts.filter(F.col("par") == 0).drop("par")
    delta = parts.filter(F.col("par") == 1).drop("par")
    merged = cms_merge(base, delta)
    full = cms_counters(l)
    cmp = (
        merged.select("d", "b", F.col("cnt").alias("cm"))
        .join(
            full.select("d", "b", F.col("cnt").alias("cf")),
            ["d", "b"],
            "full",
        )
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum(
                (
                    F.coalesce(F.col("cm"), F.lit(-1))
                    != F.coalesce(F.col("cf"), F.lit(-2))
                ).cast("long")
            )
            .cast("long")
            .alias("n_mismatch"),
            F.sum(F.coalesce(F.col("cm"), F.lit(0)))
            .cast("long")
            .alias("merged_mass"),
            F.sum(F.coalesce(F.col("cf"), F.lit(0)))
            .cast("long")
            .alias("rebuild_mass"),
        )
    )
    counts = base.agg(
        F.count("*").cast("long").alias("n_cells_base")
    ).crossJoin(
        F.broadcast(
            delta.agg(F.count("*").cast("long").alias("n_cells_delta"))
        )
    )
    return cmp.crossJoin(F.broadcast(counts)).select(
        "n_cells",
        "n_cells_base",
        "n_cells_delta",
        "n_mismatch",
        "merged_mass",
        "rebuild_mass",
        (F.col("n_mismatch") == 0).cast("int").alias("merge_equals_rebuild"),
    )


def _cms_upsert_oracle() -> str:
    from .dedup import _hex8_sql

    def bucket(i: int) -> str:
        md5_sql = f"md5('cms{i}|' || CAST(l_partkey AS VARCHAR))"
        return f"({_hex8_sql(md5_sql, 1)}) % {_CMS_WIDTH}"

    legs = " UNION ALL ".join(
        f"SELECT l_orderkey, {i} AS d, {bucket(i)} AS b FROM lineitem"
        for i in range(_CMS_DEPTH)
    )
    return f"""
WITH pos AS ({legs}),
ft AS (SELECT d, b, CAST(count(*) AS BIGINT) AS cnt FROM pos GROUP BY 1, 2),
cb AS (SELECT d, b FROM pos WHERE l_orderkey % 2 = 0 GROUP BY 1, 2),
cd AS (SELECT d, b FROM pos WHERE l_orderkey % 2 = 1 GROUP BY 1, 2)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM ft) AS n_cells,
       (SELECT CAST(count(*) AS BIGINT) FROM cb) AS n_cells_base,
       (SELECT CAST(count(*) AS BIGINT) FROM cd) AS n_cells_delta,
       CAST(0 AS BIGINT) AS n_mismatch,
       (SELECT CAST(sum(cnt) AS BIGINT) FROM ft) AS merged_mass,
       (SELECT CAST(sum(cnt) AS BIGINT) FROM ft) AS rebuild_mass,
       1 AS merge_equals_rebuild
"""


def gapfill_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: per user, a dense daily series
    between that user's first and last event day; days with no events
    carry the previous day's total forward (LOCF) and are flagged.

    Plan shape: one agg to daily totals, a tiny per-user span agg,
    ``sequence()`` + explode to the dense grid (bounded: span/day ≤
    days-in-range per user), left join back on (user, day) — an
    equi-join co-partitioned with the grid — then one LOCF window per
    user. At scale everything shuffles once on user_id and the grid
    explode is linear in output rows, never a cross join.
    """
    e = table(spark, sf_dir, "events")
    # exact integer day totals: floor-scaled e4 sums are partial-agg-
    # order-independent, unlike round(sum(double), 4) (README rule)
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("day_value_e4"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn(
            "filled_value_e4", F.last("day_value_e4", ignorenulls=True).over(w)
        )
        .withColumn("is_gap", F.col("day_value_e4").isNull().cast("int"))
    )
    return filled.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "filled_value_e4",
        "is_gap",
    )


def gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION — the other hypertable fill
    mode next to `gapfill_daily_locf` (TimescaleDB `interpolate` vs
    `locf`): a missing day takes the straight line between its
    surrounding observations instead of holding the left one.

    Integer contract: day values are e4-floored; the interpolant
    v0 + (v1−v0)·(day−d0) ÷ (d1−d0) uses the portable positive-mod
    FLOOR division (v1 < v0 makes the numerator negative, where
    Spark DIV truncates but DuckDB // floors).  The grid spans each
    user's [first, last] observed day, so every gap day has both
    neighbors by construction.

    Plan shape: the LOCF sibling's grid (one daily agg, sequence
    explode, co-partitioned join) plus two bounded per-user windows
    (last-non-null backward, first-non-null forward) — still one
    shuffle on user_id."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("v")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = (
        grid.join(daily, ["user_id", "day"], "left")
        .withColumn("v0", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("p0", F.last(obs_day, ignorenulls=True).over(w_prev))
        .withColumn("v1", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("p1", F.first(obs_day, ignorenulls=True).over(w_next))
    )
    num = "(v1 - v0) * datediff(day, p0)"
    den = "datediff(p1, p0)"
    interp = F.expr(
        f"v0 + (({num}) - ((({num}) % ({den}) + ({den})) % ({den})))"
        f" DIV ({den})"
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(interp)
        .cast("long")
        .alias("interp_value_e4"),
        F.col("v").isNull().cast("int").alias("is_gap"),
    )


GAPFILL_LINEAR_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span),
j AS (
  SELECT g.user_id, g.day, d.v,
         last_value(d.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
         last_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p0,
         first_value(d.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
         first_value(CASE WHEN d.v IS NOT NULL THEN g.day END IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS p1
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(CASE WHEN v IS NOT NULL THEN v
            ELSE v0 + ((v1 - v0) * date_diff('day', p0, day)
                       - (((v1 - v0) * date_diff('day', p0, day))
                          % date_diff('day', p0, p1)
                          + date_diff('day', p0, p1))
                         % date_diff('day', p0, p1))
                      // date_diff('day', p0, p1)
            END AS BIGINT) AS interp_value_e4,
       CAST(v IS NULL AS INT) AS is_gap
FROM j
"""


GAPFILL_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS day_value
  FROM events GROUP BY 1, 2),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM span),
filled AS (
  SELECT g.user_id, g.day, d.day_value,
         last_value(d.day_value IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CAST(filled_value AS BIGINT) AS filled_value_e4,
       CAST(day_value IS NULL AS INT) AS is_gap
FROM filled
"""


def ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the financial-bar resample
    the reference's FX domain implies but its write-only ETL never
    computes (trades land in Postgres unaggregated,
    `CSV PARSER/gcp_csv.py:159-193`).

    Open/close are first/last by (ts, event_id) — the tiebreak makes
    the selection deterministic even with equal timestamps. All four
    prices are actual data values scaled to exact e4 ints (the
    events.value rule); volume is the exact floor-scaled sum.

    Plan: both row_numbers share one (hour, type) exchange+sort, and
    the final groupBy reuses the same keys — a single shuffle total.
    Bar populations are time-bounded, so no skew regardless of total
    scale."""
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    asc = Window.partitionBy("hour", "event_type").orderBy("ts", "event_id")
    desc = Window.partitionBy("hour", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.select(
            "*",
            F.row_number().over(asc).alias("rn_a"),
            F.row_number().over(desc).alias("rn_d"),
        )
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max(F.when(F.col("rn_a") == 1, F.floor(F.col("value") * 1e4)))
            .cast("long")
            .alias("open_e4"),
            F.floor(F.max("value") * 1e4).cast("long").alias("high_e4"),
            F.floor(F.min("value") * 1e4).cast("long").alias("low_e4"),
            F.max(F.when(F.col("rn_d") == 1, F.floor(F.col("value") * 1e4)))
            .cast("long")
            .alias("close_e4"),
            F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("volume_e4"),
        )
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "open_e4",
            "high_e4",
            "low_e4",
            "close_e4",
            "volume_e4",
        )
    )


OHLC_ORACLE = """
WITH e AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       CAST(max(CASE WHEN rn_a = 1 THEN CAST(floor(value * 10000) AS BIGINT) END) AS BIGINT) AS open_e4,
       CAST(floor(max(value) * 10000) AS BIGINT) AS high_e4,
       CAST(floor(min(value) * 10000) AS BIGINT) AS low_e4,
       CAST(max(CASE WHEN rn_d = 1 THEN CAST(floor(value * 10000) AS BIGINT) END) AS BIGINT) AS close_e4,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS volume_e4
FROM e
GROUP BY 1, 2
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user, with integer ppm transition probabilities.

    Plan: one lag window per user (ordered by ts with event_id
    tiebreak), then a vocab²-group aggregate — the per-user sequence
    scan a session-based recommender or anomaly model starts from.
    Windows partition by user_id: bounded state, parallelism = user
    count."""
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    outgoing = pairs.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    return (
        pairs.join(F.broadcast(outgoing), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_from AS BIGINT)"
            ).alias("prob_ppm"),
        )
    )


TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_type,
         event_type AS to_type
  FROM events),
pairs AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2),
outgoing AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1)
SELECT p.from_type, p.to_type, p.n, o.n_from,
       CAST(CAST(1000000 AS HUGEINT) * p.n // o.n_from AS BIGINT) AS prob_ppm
FROM pairs p JOIN outgoing o USING (from_type)
"""



def daily_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust time-series anomaly detection: per event type, flag the
    days whose total value deviates from the type's median daily
    total by more than 3 MADs. Median and MAD use discrete
    percentiles over exact e4-scaled integers, and the 3-MAD test is
    a pure integer comparison — no float threshold can flicker
    cross-engine.

    Scale: the daily rollup is the only corpus-sized pass (map-side
    combined); medians run over calendar-bounded daily series and the
    per-type stats broadcast back."""
    from ..io import swap_cache

    e = table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "event_type",
        F.floor(F.col("value") * 1e4).cast("long").alias("v_e4"),
    )
    # calendar-bounded (days × types) frame with three consumers —
    # persist for the invocation so the corpus rollup runs once
    daily = swap_cache(
        "temporal.anomaly",
        e.groupBy("day", "event_type").agg(
            F.sum("v_e4").cast("long").alias("total_e4")
        ),
    )
    med = daily.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY total_e4)")
        .cast("long")
        .alias("med_e4")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "abs_dev", F.abs(F.col("total_e4") - F.col("med_e4"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_dev)")
        .cast("long")
        .alias("mad_e4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "total_e4",
            "med_e4",
            "mad_e4",
            (F.col("abs_dev") > 3 * F.col("mad_e4")).cast("int").alias("is_anomaly"),
        )
    )


DAILY_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS total_e4
  FROM events
  GROUP BY 1, 2),
med AS (
  SELECT event_type, CAST(quantile_disc(total_e4, 0.5) AS BIGINT) AS med_e4
  FROM daily GROUP BY 1),
dev AS (
  SELECT d.*, m.med_e4, abs(d.total_e4 - m.med_e4) AS abs_dev
  FROM daily d JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, CAST(quantile_disc(abs_dev, 0.5) AS BIGINT) AS mad_e4
  FROM dev GROUP BY 1)
SELECT strftime(v.day, '%Y-%m-%d') AS day,
       v.event_type,
       v.total_e4,
       v.med_e4,
       a.mad_e4,
       CAST(v.abs_dev > 3 * a.mad_e4 AS INT) AS is_anomaly
FROM dev v JOIN mad a USING (event_type)
"""


#: as-of match tolerance, seconds (pandas merge_asof `tolerance=`)
ASOF_TOLERANCE_S = 1800


def asof_tolerance_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`asof_purchase_view` with a staleness bound: a purchase only
    takes the prevailing view if it is at most 30 minutes old —
    pandas ``merge_asof(tolerance=...)`` / kdb ``wj`` semantics.  The
    match itself is the same single-shuffle union+window as
    `asof_join`; the tolerance is a row-local post-filter that nulls
    the WHOLE matched struct (never mixing fields of different
    quotes).  Too-stale matches also flip a ``stale_dropped`` flag so
    the output distinguishes "no prior view" from "view too old"."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    j = asof_join(purchases, views, key="user_id", quote_cols=("value",))
    fresh = (
        F.col("asof_ts").isNotNull()
        & (
            F.unix_micros("ts") - F.unix_micros("asof_ts")
            <= ASOF_TOLERANCE_S * 1_000_000
        )
    )
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("trade_ts_us"),
        F.when(fresh, F.unix_micros("asof_ts")).alias("view_ts_us"),
        F.when(fresh, F.round("asof_value", 4)).alias("view_value"),
        (F.col("asof_ts").isNotNull() & ~fresh).alias("stale_dropped"),
    )


ASOF_TOLERANCE_ORACLE = f"""
SELECT t.event_id,
       t.user_id,
       epoch_us(t.ts) AS trade_ts_us,
       CASE WHEN q.ts IS NOT NULL
              AND epoch_us(t.ts) - epoch_us(q.ts) <= {ASOF_TOLERANCE_S} * 1000000
            THEN epoch_us(q.ts) END AS view_ts_us,
       CASE WHEN q.ts IS NOT NULL
              AND epoch_us(t.ts) - epoch_us(q.ts) <= {ASOF_TOLERANCE_S} * 1000000
            THEN round(q.value, 4) END AS view_value,
       q.ts IS NOT NULL
         AND epoch_us(t.ts) - epoch_us(q.ts) > {ASOF_TOLERANCE_S} * 1000000
         AS stale_dropped
FROM (SELECT * FROM events WHERE event_type = 'purchase') t
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
  ON t.user_id = q.user_id AND t.ts >= q.ts
"""


#: reporting timezone for the local-calendar rollup
LOCAL_TZ = "America/New_York"


def tz_local_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event rollup by LOCAL calendar day in a reporting timezone
    (America/New_York): day boundaries sit at 05:00/04:00 UTC, so the
    buckets differ from every UTC-day rollup the repo already has —
    the correctness trap every multi-region pipeline hits.

    Cross-engine contract: Spark converts via ``from_utc_timestamp``
    (JVM tzdb); the oracle re-derives the same local wall clock with
    DuckDB's ICU ``timezone('UTC', ts)`` → ``timezone(tz, tstz)``
    double hop.  Both consult the IANA database, so DST transitions
    agree; the synthetic-DST unit test pins the spring-forward day to
    23 distinct local hours against hand-computed truth (the fixture
    itself is January-only).

    Scale shape: the tz conversion is a row-local expression fused
    into the scan; one map-side-combined groupBy(local_day) shuffle.

    Reference parity: the reference localizes RSS timestamps to UTC
    and never back (`RSS PARSER/gcp_rss.py:31-37`); this adds the
    reporting-side local-calendar view."""
    return local_day_rollup(table(spark, sf_dir, "events"))


def local_day_rollup(e: DataFrame, tz: str = LOCAL_TZ) -> DataFrame:
    """Core of :func:`tz_local_day_rollup` over any (ts, value) frame
    — split out so the DST unit test can drive it on a synthetic
    spring-forward day."""
    ny = F.from_utc_timestamp("ts", tz)
    return (
        e.select(
            F.date_format(ny, "yyyy-MM-dd").alias("local_day"),
            F.hour(ny).alias("local_hour"),
            "value",
        )
        .groupBy("local_day")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("local_hour").alias("n_local_hours"),
            F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("value_sum_e4"),
        )
    )


TZ_LOCAL_DAY_ORACLE = f"""
WITH loc AS (
  SELECT timezone('{LOCAL_TZ}', timezone('UTC', ts)) AS nyts, value
  FROM events)
SELECT strftime(nyts, '%Y-%m-%d') AS local_day,
       count(*) AS n_events,
       CAST(count(DISTINCT extract(hour FROM nyts)) AS BIGINT) AS n_local_hours,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_sum_e4
FROM loc
GROUP BY 1
"""


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting inside the engine: the seasonal-naive
    baseline (predict today's event count with the same weekday last
    week) scored over the whole fixture month — the sanity baseline
    every demand/load forecasting pipeline must beat, and the
    evaluation loop (lag join → absolute error → grouped score) is
    the engine capability being certified, in exact integers.

    Per weekday: days evaluated, actual/predicted totals, absolute
    error sum, and MAPE-style error ppm
    (``1e6·Σ|err| DIV Σ actual``).  The 7-day lag is a LAG window
    over the calendar-bounded daily series, so the corpus-sized work
    is one map-side-combined daily aggregate; everything after runs
    on ≤366 rows/year.

    Reference parity: beyond-reference analytics on the event
    stream; complements `daily_anomaly_days` (detection) with
    evaluation."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy("day")
    lagged = daily.withColumn("pred", F.lag("n", 7).over(w)).filter(
        F.col("pred").isNotNull()
    )
    return (
        lagged.withColumn("dow", F.dayofweek("day"))
        .groupBy("dow")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("n").cast("long").alias("actual_total"),
            F.sum("pred").cast("long").alias("pred_total"),
            F.sum(F.abs(F.col("n") - F.col("pred"))).cast("long").alias("abs_err_sum"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * sum(abs(n - pred))"
                " DIV sum(n) AS BIGINT)"
            ).alias("err_ppm"),
        )
    )


SEASONAL_NAIVE_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1),
lagged AS (
  SELECT day, n, lag(n, 7) OVER (ORDER BY day) AS pred
  FROM daily)
SELECT CAST(dayofweek(day) + 1 AS INT) AS dow,
       count(*) AS n_days,
       CAST(sum(n) AS BIGINT) AS actual_total,
       CAST(sum(pred) AS BIGINT) AS pred_total,
       CAST(sum(abs(n - pred)) AS BIGINT) AS abs_err_sum,
       CAST(CAST(1000000 AS HUGEINT) * sum(abs(n - pred))
            // sum(n) AS BIGINT) AS err_ppm
FROM lagged
WHERE pred IS NOT NULL
GROUP BY 1
"""


def calendar_arithmetic_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar arithmetic, certified cross-engine — the temporal
    member of the portable-semantics family (division / NOT-IN /
    null-ordering / boolean-vocabulary probes): month addition with
    END-OF-MONTH CLAMPING in both directions (Jan 31 + 1 month =
    Feb 29 on a leap year; Mar 31 − 1 month likewise), ``last_day``,
    quarter ``date_trunc``, and day differences — Spark's
    ``add_months`` and DuckDB's ``+ INTERVAL n MONTH`` clamp
    identically (verified empirically; neither overflows into the
    next month), so the probe pins the equivalence as epoch-day
    checksums per order-month bucket rather than leaving it an
    assumption under every monthly rollup in the repo.

    One groupBy over row-local derivations; group count = distinct
    (year, month) of the fixture."""
    o = table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    epoch = F.lit("1970-01-01").cast("date")
    day = lambda c: F.datediff(c, epoch).cast("long")
    base = o.select(
        F.year(d).alias("y"),
        F.month(d).alias("m"),
        day(F.add_months(d, 1)).alias("plus1"),
        day(F.add_months(d, -1)).alias("minus1"),
        day(F.last_day(d)).alias("eom"),
        day(F.date_trunc("quarter", F.col("o_orderdate")).cast("date")).alias(
            "qtr"
        ),
        F.datediff(F.lit("2030-01-01").cast("date"), d)
        .cast("long")
        .alias("to_anchor"),
    )
    return base.groupBy("y", "m").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("plus1").cast("long").alias("plus1_daysum"),
        F.sum("minus1").cast("long").alias("minus1_daysum"),
        F.sum("eom").cast("long").alias("eom_daysum"),
        F.sum("qtr").cast("long").alias("qtr_daysum"),
        F.sum("to_anchor").cast("long").alias("anchor_daysum"),
    )


CALENDAR_ARITH_ORACLE = """
WITH base AS (
  SELECT CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate + INTERVAL 1 MONTH AS DATE)) AS plus1,
         date_diff('day', DATE '1970-01-01',
                   CAST(o_orderdate - INTERVAL 1 MONTH AS DATE)) AS minus1,
         date_diff('day', DATE '1970-01-01',
                   last_day(CAST(o_orderdate AS DATE))) AS eom,
         date_diff('day', DATE '1970-01-01',
                   CAST(date_trunc('quarter', o_orderdate) AS DATE)) AS qtr,
         date_diff('day', CAST(o_orderdate AS DATE), DATE '2030-01-01')
           AS to_anchor
  FROM orders)
SELECT y, m,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(plus1) AS BIGINT) AS plus1_daysum,
       CAST(sum(minus1) AS BIGINT) AS minus1_daysum,
       CAST(sum(eom) AS BIGINT) AS eom_daysum,
       CAST(sum(qtr) AS BIGINT) AS qtr_daysum,
       CAST(sum(to_anchor) AS BIGINT) AS anchor_daysum
FROM base
GROUP BY 1, 2
"""


#: point-in-time probe grid for the interval-reconstruction audit —
#: four dates inside the orders domain (1995-01..2001-08)
ASOF_PROBES = ("1996-01-01", "1997-07-01", "1999-01-01", "2000-07-01")


def scd2_asof_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal correctness audit: a versioned (SCD2-style) state
    table rebuilt from the order history must reproduce EXACTLY the
    point-in-time facts at every probe date — the invariant every
    time-travel / AS OF consumer silently relies on.  `scd2_customer_dim`
    certifies the merge mechanics on a two-epoch demo; this certifies
    the INTERVAL SEMANTICS (``valid_from <= t < valid_to``, NULL = open)
    against ground truth over the full seven-year history.

    Version table: one row per (customer, order date) carrying
    cumulative order count and spend cents (exact ints), closed by
    the next version's date.  For each probe date the audit compares
    the interval route (match the covering version per customer, sum
    its cumulative state) with the fact route (filter raw orders to
    ``<= probe``, aggregate) — counts, order totals, and spend must
    agree to the cent.

    Scale shape: the version build is one partitioned window over
    the fact table's natural key; the probe grid is a 4-row
    broadcast (the sanctioned bounded nested-loop shape — interval
    probes are not equi-joinable), and each route ends in a
    probe-grouped aggregate.  At 100 TB the version table IS the
    stored dim; only the audit's fact route re-scans history."""
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("string").alias("d"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    daily = o.groupBy("o_custkey", "d").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    versions = daily.select(
        "o_custkey",
        F.col("d").alias("valid_from"),
        F.lead("d").over(w).alias("valid_to"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_n"),
        F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_c"),
    )
    probes = spark.createDataFrame(
        [(p,) for p in ASOF_PROBES], "probe_date string"
    )
    iv = (
        versions.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("probe_date"))
            & (
                F.col("valid_to").isNull()
                | (F.col("probe_date") < F.col("valid_to"))
            ),
        )
        .groupBy("probe_date")
        .agg(
            F.count("*").cast("long").alias("n_cust_interval"),
            F.sum("cum_n").cast("long").alias("n_orders_interval"),
            F.sum("cum_c").cast("long").alias("spend_cents_interval"),
        )
    )
    fact = (
        o.join(F.broadcast(probes), F.col("d") <= F.col("probe_date"))
        .groupBy("probe_date")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_cust_fact"),
            F.count("*").cast("long").alias("n_orders_fact"),
            F.sum("cents").cast("long").alias("spend_cents_fact"),
        )
    )
    return iv.join(fact, "probe_date").select(
        "probe_date",
        "n_cust_interval",
        "n_cust_fact",
        "n_orders_interval",
        "n_orders_fact",
        "spend_cents_interval",
        "spend_cents_fact",
        (
            (F.col("n_cust_interval") == F.col("n_cust_fact"))
            & (F.col("n_orders_interval") == F.col("n_orders_fact"))
            & (F.col("spend_cents_interval") == F.col("spend_cents_fact"))
        )
        .cast("int")
        .alias("consistent"),
    )


def _asof_consistency_oracle() -> str:
    probes = ", ".join(f"('{p}')" for p in ASOF_PROBES)
    return f"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS VARCHAR) AS d,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
daily AS (
  SELECT o_custkey, d, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS c
  FROM o GROUP BY 1, 2),
versions AS (
  SELECT o_custkey, d AS valid_from,
         lead(d) OVER (PARTITION BY o_custkey ORDER BY d) AS valid_to,
         CAST(sum(n) OVER (PARTITION BY o_custkey ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
         CAST(sum(c) OVER (PARTITION BY o_custkey ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_c
  FROM daily),
probes(probe_date) AS (VALUES {probes}),
iv AS (
  SELECT probe_date,
         CAST(count(*) AS BIGINT) AS n_cust_interval,
         CAST(sum(cum_n) AS BIGINT) AS n_orders_interval,
         CAST(sum(cum_c) AS BIGINT) AS spend_cents_interval
  FROM versions JOIN probes
    ON valid_from <= probe_date
   AND (valid_to IS NULL OR probe_date < valid_to)
  GROUP BY 1),
fact AS (
  SELECT probe_date,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust_fact,
         CAST(count(*) AS BIGINT) AS n_orders_fact,
         CAST(sum(cents) AS BIGINT) AS spend_cents_fact
  FROM o JOIN probes ON d <= probe_date
  GROUP BY 1)
SELECT iv.probe_date, n_cust_interval, n_cust_fact,
       n_orders_interval, n_orders_fact,
       spend_cents_interval, spend_cents_fact,
       CAST(CASE WHEN n_cust_interval = n_cust_fact
                  AND n_orders_interval = n_orders_fact
                  AND spend_cents_interval = spend_cents_fact
            THEN 1 ELSE 0 END AS INT) AS consistent
FROM iv JOIN fact ON iv.probe_date = fact.probe_date
"""


#: change-point geometry: objective unit (cents per y-unit, $10k —
#: keeps S_l^2 * n_r <= ~7e16 inside int64 through sf1) and the
#: argmax packing shift (day index < 2^16)
CP_UNIT = 1_000_000
CP_SHIFT = 1 << 16

#: CUSUM alarm threshold as percent of total spend (scaled by n)
CUSUM_H_PCT = 2


def _spend_cents() -> Column:
    """Exact integer spend: the sum of floor(o_totalprice·100)."""
    return F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")


def daily_spend(orders: DataFrame) -> DataFrame:
    """The daily spend series ``(d, cents)`` of an orders frame, ``d``
    the order date as a string — the one definition behind the CUSUM
    and change-point series and the streaming CUSUM monitor's
    per-batch partial (merged by :func:`spend_merge`)."""
    return orders.groupBy(F.col("o_orderdate").cast("string").alias("d")).agg(
        _spend_cents()
    )


def weekly_spend(orders: DataFrame) -> DataFrame:
    """The weekly spend series ``(o_orderpriority, wk, cents)`` of an
    orders frame, ``wk`` the epoch-day // 7 week (engine-neutral, no
    ISO-week semantics) — the one definition behind the EWMA,
    Mann-Kendall, Holt and isotonic series and the streaming EWMA
    monitor's per-batch partial (merged by :func:`spend_merge`)."""
    wk = F.expr("datediff(o_orderdate, DATE'1970-01-01') DIV 7").cast("long")
    return orders.groupBy("o_orderpriority", wk.alias("wk")).agg(_spend_cents())


def spend_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Keyed SUM of two spend partials of one grain: the series is
    additive, so merging the partials of any split of the orders
    yields the series of the whole exactly."""
    keys = [c for c in a.columns if c != "cents"]
    return (
        a.unionByName(b).groupBy(*keys).agg(F.sum("cents").cast("long").alias("cents"))
    )


def cusum_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM drift monitor over the daily spend series — the
    SEQUENTIAL companion to `changepoint_detection` (that one finds
    the single best retrospective split; CUSUM is the running control
    chart a pipeline keeps to catch drift as it accumulates).  The
    one-sided statistics are kept integer-exact by clearing the mean
    with the n-scaling trick: P_i = n·cumsum_i − i·S is the prefix
    sum of n·(x_i − μ), so the classic recursions S⁺_i = max(0,
    S⁺_{i−1} + (x_i − μ)) and S⁻ collapse to the window-expressible
    identities S⁺_i = P_i − min_{j≤i} P_j and S⁻_i = max_{j≤i} P_j −
    P_i — no iteration, no float mean, both engines agree bit-for-bit.

    Output: one row per direction (pos = spend running above its
    mean, neg = below): the peak statistic, the peak date (min-date
    tie-break via struct-max), alarm-day count against h = CUSUM_H_PCT%
    of total spend (n-scaled), and the calendar length.

    Scale: the series is calendar-bounded (the one daily aggregate is
    the data-scaled work — same allowlisted bounded global window as
    `changepoint_detection`/`seasonal_naive_backtest`).  Headroom:
    |P| ≤ n·S ~ 2^60 at sf100."""
    return cusum_from_daily(daily_spend(table(spark, sf_dir, "orders")))


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """The CUSUM tail over a ``(d, cents)`` daily frame — shared by
    the batch monitor and the streaming maintenance gate (whose
    carried state IS such a frame)."""
    from ..io import swap_cache

    w = Window.orderBy("d")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    # persist the two calendar-bounded frames: `pre` feeds the total
    # scalar AND the P-series, `st` feeds both direction aggregates
    # and the peak-date lookup — un-persisted, the daily aggregate
    # re-ran per consumer (r14 scan sweep: 6 orders scans in the
    # batch monitor's plan; guide §2.4)
    pre = swap_cache(
        "temporal.cusum_pre",
        daily.select(
            "d",
            F.row_number().over(w).cast("long").alias("idx"),
            F.sum("cents").over(cum).cast("long").alias("cc"),
        ),
    )
    tot = pre.agg(
        F.max("idx").cast("long").alias("n"),
        F.max("cc").cast("long").alias("s"),
    )
    p = pre.crossJoin(F.broadcast(tot)).select(
        "d",
        "idx",
        "n",
        "s",
        (F.col("cc") * F.col("n") - F.col("idx") * F.col("s"))
        .cast("long")
        .alias("p"),
    )
    w2 = Window.orderBy("idx").rowsBetween(Window.unboundedPreceding, 0)
    st = swap_cache(
        "temporal.cusum_st",
        p.select(
            "d",
            "idx",
            "n",
            (F.col("p") - F.min("p").over(w2)).cast("long").alias("s_pos"),
            (F.max("p").over(w2) - F.col("p")).cast("long").alias("s_neg"),
            F.expr(f"(s * n * {CUSUM_H_PCT}) DIV 100")
            .cast("long")
            .alias("h"),
        ),
    )

    def side(col: str, name: str) -> DataFrame:
        return (
            st.agg(
                F.max(
                    F.struct(F.col(col).alias("v"), (-F.col("idx")).alias("ni"))
                ).alias("b"),
                F.sum((F.col(col) > F.col("h")).cast("long"))
                .cast("long")
                .alias("n_alarm_days"),
                F.max("n").cast("long").alias("n_days"),
                F.max("h").cast("long").alias("h_scaled"),
            )
            .select(
                F.lit(name).alias("direction"),
                "n_days",
                F.col("b.v").cast("long").alias("max_stat_scaled"),
                (-F.col("b.ni")).cast("long").alias("peak_idx"),
                "n_alarm_days",
                "h_scaled",
            )
        )

    agg = side("s_pos", "pos").unionByName(side("s_neg", "neg"))
    days = st.select(
        F.col("idx").alias("peak_idx"), F.col("d").alias("peak_date")
    )
    return agg.join(days, "peak_idx").select(
        "direction",
        "n_days",
        "max_stat_scaled",
        "peak_date",
        "n_alarm_days",
        "h_scaled",
    )


CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS VARCHAR) AS d,
         CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
pre AS (
  SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx,
         CAST(sum(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cc
  FROM daily),
tot AS (SELECT CAST(max(idx) AS BIGINT) AS n, CAST(max(cc) AS BIGINT) AS s
        FROM pre),
p AS (
  SELECT d, idx, t.n, t.s,
         CAST(cc * t.n - idx * t.s AS BIGINT) AS p
  FROM pre, tot t),
st AS (
  SELECT d, idx, n,
         CAST(p - min(p) OVER win AS BIGINT) AS s_pos,
         CAST(max(p) OVER win - p AS BIGINT) AS s_neg,
         CAST((s * n * {CUSUM_H_PCT}) // 100 AS BIGINT) AS h
  FROM p
  WINDOW win AS (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)),
sides AS (
  SELECT 'pos' AS direction, max(n) AS n_days,
         (max({{'v': s_pos, 'ni': -idx}})).v AS max_stat_scaled,
         -(max({{'v': s_pos, 'ni': -idx}})).ni AS peak_idx,
         CAST(sum(CASE WHEN s_pos > h THEN 1 ELSE 0 END) AS BIGINT)
           AS n_alarm_days,
         max(h) AS h_scaled
  FROM st
  UNION ALL
  SELECT 'neg', max(n),
         (max({{'v': s_neg, 'ni': -idx}})).v,
         -(max({{'v': s_neg, 'ni': -idx}})).ni,
         CAST(sum(CASE WHEN s_neg > h THEN 1 ELSE 0 END) AS BIGINT),
         max(h)
  FROM st)
SELECT sd.direction, CAST(sd.n_days AS BIGINT) AS n_days,
       CAST(sd.max_stat_scaled AS BIGINT) AS max_stat_scaled,
       st.d AS peak_date,
       sd.n_alarm_days,
       CAST(sd.h_scaled AS BIGINT) AS h_scaled
FROM sides sd JOIN st ON st.idx = sd.peak_idx
"""


#: EWMA chart geometry: smoothing α = 1/4 (s' = (x + 3s) >> 2 — the
#: shift keeps the recursion integer-exact with floor semantics both
#: engines share on non-negative values) and the relative alarm band
#: (alarm when 2·|x − s_prev| > s_prev, i.e. a ±50% departure from
#: the smoothed baseline)
EWMA_SHIFT = 2


def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (Roberts 1959) over the per-priority weekly
    spend series — the third classical drift monitor next to CUSUM
    (`cusum_drift_monitor`, accumulating) and the retrospective
    changepoint (`changepoint_detection`, single split): EWMA reacts
    to LEVEL shifts with exponentially-forgotten memory, the chart
    ops teams actually keep per segment.

    Integer discipline: with α = 1/4 the recursion clears to
    s_t = (x_t + 3·s_{t-1}) >> 2 — a shift, exact on the non-negative
    cents domain and identical to DuckDB's // 4 floor; the alarm test
    2·|x − s_prev| > s_prev and the deviation mass Σ|x − s_prev| are
    plain integer arithmetic, so the whole chart is float-free.  The
    week key is epoch-day // 7 — engine-neutral, no ISO-week
    semantics.  The oracle replays the recursion as a recursive CTE
    (frontier = one row per priority, depth = calendar weeks — the
    weekly grain keeps the oracle's sequential replay ~1 s where the
    daily grain measured 24 s; the Spark fold is grain-indifferent).

    Scale shape: ONE data-scaled partial aggregate (week × priority),
    then a 5-row fold over calendar-bounded arrays (`F.aggregate`,
    row-local — no window, no shuffle beyond the group-by).  At
    100 TB the fold input is still |calendar| × |segments| rows."""
    return ewma_from_weekly(weekly_spend(table(spark, sf_dir, "orders")))


def ewma_from_weekly(weekly: DataFrame) -> DataFrame:
    """The EWMA fold over a ``(o_orderpriority, wk, cents)`` weekly
    frame — shared by the batch chart and the streaming maintenance
    gate (whose carried state IS such a frame)."""
    arr = weekly.groupBy("o_orderpriority").agg(
        F.sort_array(F.collect_list(F.struct("wk", "cents"))).alias("xs")
    )
    init = F.struct(
        F.lit(-1).cast("long").alias("s"),
        F.lit(0).cast("long").alias("alarms"),
        F.lit(0).cast("long").alias("dev"),
    )

    def step(acc, x):
        first = acc["s"] < 0
        dev = F.abs(x["cents"] - acc["s"])
        return F.struct(
            F.when(first, x["cents"])
            .otherwise(
                F.shiftright(x["cents"] + 3 * acc["s"], EWMA_SHIFT)
            )
            .cast("long")
            .alias("s"),
            (
                acc["alarms"]
                + F.when(
                    ~first & (2 * dev > acc["s"]), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("alarms"),
            (acc["dev"] + F.when(first, F.lit(0)).otherwise(dev))
            .cast("long")
            .alias("dev"),
        )

    folded = arr.select(
        "o_orderpriority",
        F.size("xs").cast("long").alias("n_weeks"),
        F.aggregate("xs", init, step).alias("acc"),
    )
    return folded.select(
        "o_orderpriority",
        "n_weeks",
        F.col("acc.s").alias("ewma_final"),
        F.col("acc.alarms").alias("n_alarms"),
        F.col("acc.dev").alias("dev_mass"),
    ).orderBy("o_orderpriority")


EWMA_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT o_orderpriority AS pr,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
idx AS MATERIALIZED (
  SELECT pr, cents,
         row_number() OVER (PARTITION BY pr ORDER BY wk) AS i
  FROM daily),
r AS (
  SELECT pr, i, cents AS s, CAST(0 AS BIGINT) AS alarms,
         CAST(0 AS BIGINT) AS dev
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.pr, x.i, (x.cents + 3 * r.s) // 4,
         r.alarms + CASE WHEN 2 * abs(x.cents - r.s) > r.s
                         THEN 1 ELSE 0 END,
         r.dev + abs(x.cents - r.s)
  FROM r JOIN idx x ON x.pr = r.pr AND x.i = r.i + 1)
SELECT pr AS o_orderpriority,
       CAST(max(i) AS BIGINT) AS n_weeks,
       CAST(max_by(s, i) AS BIGINT) AS ewma_final,
       CAST(max_by(alarms, i) AS BIGINT) AS n_alarms,
       CAST(max_by(dev, i) AS BIGINT) AS dev_mass
FROM r GROUP BY 1 ORDER BY 1
"""


def changepoint_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-segment change-point detection over the daily spend
    series — the drift-detection primitive behind "did the
    distribution shift on day X" monitoring (same family as
    `daily_anomaly_days`, but structural: it finds the SINGLE best
    breakpoint rather than flagging outlier days).  Minimizing total
    two-segment SSE equals MAXIMIZING R(k) = S_l²/n_l + S_r²/n_r
    (variance decomposition), which this computes as an exact
    floor-scaled integer from calendar prefix sums: y = daily cents
    DIV CP_UNIT, R_scaled = (S_l²·n_r + S_r²·n_l) DIV (n_l·n_r) —
    positive operands, so Spark DIV and DuckDB // agree.  One
    max() over packed (R_scaled, min-day tie-break) picks the split.

    Scale shape: the series is calendar-bounded (~2.4k rows for the
    seven-year domain — the data-scaled work is the one daily
    aggregate), so the prefix-sum window and the argmax run over a
    bounded frame; the allowlisted global window is the same shape
    `seasonal_naive_backtest` carries.  Output: the chosen split
    date, segment sizes and exact mean cents, the split objective,
    the no-split baseline floor(S²/n), and the gain."""
    daily = daily_spend(table(spark, sf_dir, "orders")).withColumn(
        "y", F.expr(f"cents DIV {CP_UNIT}")
    )
    from ..io import swap_cache

    w = Window.orderBy("d")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    # persist the calendar-bounded prefix frame (total scalar + split
    # candidates) and the candidate frame (argmax pick + final row):
    # un-persisted, the daily aggregate re-ran per consumer — 4
    # orders scans in this plan (r14 scan sweep; guide §2.4)
    pre = swap_cache(
        "temporal.cp_pre",
        daily.select(
            "d",
            "cents",
            "y",
            F.row_number().over(w).cast("long").alias("idx"),
            F.sum("y").over(cum).cast("long").alias("cy"),
            F.sum("cents").over(cum).cast("long").alias("cc"),
        ),
    )
    tot = pre.agg(
        F.max("idx").cast("long").alias("n"),
        F.max("cy").cast("long").alias("sy"),
        F.max("cc").cast("long").alias("sc"),
    )
    cand = (
        pre.filter("idx >= 2")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            "idx",
            (F.col("cy") - F.col("y")).cast("long").alias("sl"),
            (F.col("cc") - F.col("cents")).cast("long").alias("scl"),
            (F.col("idx") - 1).cast("long").alias("nl"),
            (F.col("sy") - F.col("cy") + F.col("y")).cast("long").alias("sr"),
            (F.col("sc") - F.col("cc") + F.col("cents"))
            .cast("long")
            .alias("scr"),
            (F.col("n") - F.col("idx") + 1).cast("long").alias("nr"),
            "n",
            "sy",
            "sc",
        )
        .withColumn(
            "rs", F.expr("(sl * sl * nr + sr * sr * nl) DIV (nl * nr)")
        )
    )
    cand = swap_cache("temporal.cp_cand", cand)
    # packing headroom (round-10 advice): rs * CP_SHIFT must stay
    # inside int64 — Spark would wrap silently where DuckDB errors,
    # turning overflow into a cross-engine DIVERGENCE.  rs <= S²/n on
    # this decomposition; the pytest pin (test_r10_ops.py) holds
    # max(rs) < 2^46 so the packed product is < 2^62 with a further
    # 2^16 of spare.  A pathological spend concentration that broke
    # the bound would need S ~ 2^23 * sqrt(n) spend units — ~8e9
    # daily-cents/CP_UNIT on the seven-year calendar, ~10^6x the
    # fixture's scale-normalized series.
    pick = cand.agg(
        F.max(F.col("rs") * CP_SHIFT + (F.lit(CP_SHIFT - 1) - F.col("idx")))
        .cast("long")
        .alias("pk")
    ).select(
        (F.lit(CP_SHIFT - 1) - F.col("pk") % CP_SHIFT).cast("long").alias("ki")
    )
    return (
        cand.join(F.broadcast(pick), cand.idx == F.col("ki"))
        .select(
            F.col("d").alias("split_date"),
            F.col("nl").alias("n_days_left"),
            F.col("nr").alias("n_days_right"),
            F.expr("scl DIV nl").cast("long").alias("mean_cents_left"),
            F.expr("scr DIV nr").cast("long").alias("mean_cents_right"),
            F.col("rs").alias("r_split"),
            F.expr("(sy * sy) DIV n").cast("long").alias("r_baseline"),
            (F.col("rs") - F.expr("(sy * sy) DIV n"))
            .cast("long")
            .alias("gain"),
        )
    )


CHANGEPOINT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS VARCHAR) AS d,
         CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
yd AS (SELECT d, cents, cents // {CP_UNIT} AS y FROM daily),
pre AS (
  SELECT d, cents, y,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx,
         CAST(sum(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cy,
         CAST(sum(cents) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cc
  FROM yd),
tot AS (
  SELECT CAST(max(idx) AS BIGINT) AS n, CAST(max(cy) AS BIGINT) AS sy,
         CAST(max(cc) AS BIGINT) AS sc
  FROM pre),
cand AS (
  SELECT d, idx,
         cy - y AS sl, cc - cents AS scl, idx - 1 AS nl,
         sy - cy + y AS sr, sc - cc + cents AS scr, n - idx + 1 AS nr,
         n, sy, sc,
         (( (cy - y) * (cy - y) * (n - idx + 1)
          + (sy - cy + y) * (sy - cy + y) * (idx - 1) ))
           // ((idx - 1) * (n - idx + 1)) AS rs
  FROM pre, tot WHERE idx >= 2),
pick AS (
  SELECT CAST({CP_SHIFT} - 1 - (max(rs * {CP_SHIFT}
               + ({CP_SHIFT} - 1 - idx)) % {CP_SHIFT}) AS BIGINT) AS ki
  FROM cand)
SELECT d AS split_date,
       CAST(nl AS BIGINT) AS n_days_left,
       CAST(nr AS BIGINT) AS n_days_right,
       CAST(scl // nl AS BIGINT) AS mean_cents_left,
       CAST(scr // nr AS BIGINT) AS mean_cents_right,
       CAST(rs AS BIGINT) AS r_split,
       CAST((sy * sy) // n AS BIGINT) AS r_baseline,
       CAST(rs - (sy * sy) // n AS BIGINT) AS gain
FROM cand, pick WHERE idx = ki
"""


def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend estimation: the Theil-Sen median slope over
    monthly revenue — the estimator that survives the outlier months
    OLS gets dragged by (breakdown point 29% vs 0%).  Exact integer
    contract: slopes are floor-divided cents-per-month via the
    portable positive-mod floor division (Spark DIV truncates,
    DuckDB // floors), the median is the lower order statistic of
    the pair grid, and the OLS comparison slope comes from the exact
    rational normal equation floor-divided in the same units.

    Scale shape: the data-scaled work is ONE monthly aggregate; the
    pair grid is (calendar months)² / 2 — config-sized (~3.2k rows
    for the seven-year domain), so its rank window is bounded by the
    calendar, not the data (allowlisted, the seasonal_naive class)."""
    from .ml import _pmod_floordiv

    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.substring(F.col("o_orderdate").cast("string"), 1, 7).alias("m"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
    )
    from ..io import swap_cache

    w = Window.orderBy("m")
    # persist the calendar-bounded month index (both pair-grid sides
    # and the OLS sufficient statistics consume it) and the ~months²/2
    # pair grid (rank window + count): un-persisted, the monthly
    # aggregate re-ran per consumer — 5 orders scans in this plan
    # (r14 scan sweep; guide §2.4)
    idx = swap_cache(
        "temporal.theilsen_idx",
        monthly.select(
            F.row_number().over(w).cast("long").alias("x"), "cents"
        ),
    )
    a = idx.select(F.col("x").alias("xi"), F.col("cents").alias("yi"))
    b = idx.select(F.col("x").alias("xj"), F.col("cents").alias("yj"))
    slope = _pmod_floordiv("yj - yi", "xj - xi", "DIV")
    pairs = swap_cache(
        "temporal.theilsen_pairs",
        a.join(b, F.col("xi") < F.col("xj")).select(
            F.expr(slope).cast("long").alias("s"),
            "xi",
            "xj",
        ),
    )
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.orderBy("s", "xi", "xj"))
    )
    n_pairs = pairs.agg(F.count("*").cast("long").alias("np"))
    med = (
        ranked.crossJoin(F.broadcast(n_pairs))
        .filter(F.col("rn") == F.expr("(np + 1) DIV 2"))
        .select(F.col("s").alias("ts_slope_cents"), "np")
    )
    stats = idx.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("cents")).cast("long").alias("sxy"),
    )
    ols = stats.select(
        "n",
        F.expr(
            _pmod_floordiv("n * sxy - sx * sy", "n * sxx - sx * sx", "DIV")
        )
        .cast("long")
        .alias("ols_slope_cents"),
    )
    return med.crossJoin(F.broadcast(ols)).select(
        F.col("n").alias("n_months"),
        F.col("np").alias("n_pairs"),
        "ts_slope_cents",
        "ols_slope_cents",
    )


def _theilsen_oracle() -> str:
    from .ml import _pmod_floordiv

    slope = _pmod_floordiv("yj - yi", "xj - xi", "//")
    ols = _pmod_floordiv("n * sxy - sx * sy", "n * sxx - sx * sx", "//")
    return f"""
WITH monthly AS (
  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS m,
         CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (
  SELECT CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS x, cents
  FROM monthly),
pairs AS (
  SELECT CAST({slope} AS BIGINT) AS s, xi, xj
  FROM (SELECT a.x AS xi, a.yi AS yi, b.x AS xj, b.yj AS yj
        FROM (SELECT x, cents AS yi FROM idx) a
        JOIN (SELECT x, cents AS yj FROM idx) b ON a.x < b.x)),
pr AS (SELECT xi AS dummy_xi, xj AS dummy_xj, s,
              row_number() OVER (ORDER BY s, xi, xj) AS rn
       FROM pairs),
np AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
med AS (
  SELECT s AS ts_slope_cents, np FROM pr, np WHERE rn = (np + 1) // 2),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum(x * cents) AS BIGINT) AS sxy
  FROM idx)
SELECT n AS n_months, np AS n_pairs, ts_slope_cents,
       CAST({ols} AS BIGINT) AS ols_slope_cents
FROM med, stats
"""


def twap_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event type — the
    hypertable aggregate (TimescaleDB `time_weight`, kdb `twap`)
    that a plain AVG silently fakes on irregular series: each
    observation is held (LOCF) until the next one, so its weight is
    its HOLDING DURATION, not 1.  The reference's FX domain prices
    positions exactly this way between quote ticks.

    Integer contract: value is floored to e4 ticks, durations are
    epoch-second differences, and the TWAP is one floor division of
    Σ(v_e4·dur) by Σ(dur) — plus the unweighted mean alongside so
    the irregular-sampling bias is visible in the output.  The last
    observation per type has no successor and carries zero weight
    (the standard half-open convention; both engines agree).  Both
    quotients use the portable positive-mod FLOOR idiom
    (``_pmod_floordiv``) so a negative Σ(v_e4·dur) divides
    identically under Spark's truncating ``DIV`` and DuckDB's
    flooring ``//``, and a zero span (all same-type events at one
    timestamp) yields NULL on both engines rather than an engine-
    dependent divide-by-zero (round-13 advice item 2).

    Scale shape: one partitioned (never global) lead window over
    (type, ts), one aggregate.  At 100 TB the window is
    hash-partitioned by type — no coordination beyond the shuffle."""
    from .ml import _pmod_floordiv

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    ts_s = F.col("ts").cast("long")
    dur = (F.lead(ts_s).over(w) - ts_s).alias("dur")
    v = F.floor(F.col("value") * 1e4).cast("long").alias("v_e4")
    rows = e.select("event_type", v, dur).filter(
        F.col("dur").isNotNull()
    )
    return (
        rows.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_intervals"),
            F.sum("dur").cast("long").alias("span_s"),
            F.sum(F.col("v_e4") * F.col("dur"))
            .cast("long")
            .alias("pv_sum"),
            F.sum("v_e4").cast("long").alias("v_sum"),
        )
        .select(
            "event_type",
            "n_intervals",
            "span_s",
            F.expr(
                "CASE WHEN span_s = 0 THEN NULL ELSE CAST("
                + _pmod_floordiv(
                    "CAST(pv_sum AS DECIMAL(38,0))", "span_s", "DIV"
                )
                + " AS BIGINT) END"
            ).alias("twap_e4"),
            F.expr(
                "CAST("
                + _pmod_floordiv(
                    "CAST(v_sum AS DECIMAL(38,0))", "n_intervals", "DIV"
                )
                + " AS BIGINT)"
            ).alias("mean_e4"),
        )
        .orderBy("event_type")
    )


def _twap_oracle() -> str:
    from .ml import _pmod_floordiv

    twap = _pmod_floordiv(
        "CAST(sum(v_e4 * dur) AS HUGEINT)", "sum(dur)", "//"
    )
    mean = _pmod_floordiv("CAST(sum(v_e4) AS HUGEINT)", "count(*)", "//")
    # DuckDB's integer // TRUNCATES toward zero exactly like Spark's
    # DIV (measured: -8331 // 10 = -833), so BOTH engines need the
    # positive-mod floor idiom for the documented floor semantics
    return f"""
WITH seq AS (
  SELECT event_type,
         CAST(floor(value * 10000) AS BIGINT) AS v_e4,
         lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER
             (PARTITION BY event_type ORDER BY ts ASC, event_id ASC)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dur
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dur) AS BIGINT) AS span_s,
       CASE WHEN sum(dur) = 0 THEN NULL
            ELSE CAST({twap} AS BIGINT) END AS twap_e4,
       CAST({mean} AS BIGINT) AS mean_e4
FROM seq WHERE dur IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


#: Mann-Kendall critical value as an exact rational: z²(0.975) =
#: 1.96² = 9604/2500 — the significance test clears to the integer
#: compare (|S|−1)²·18·2500 > 9604·var18 (var18 = 18·Var(S), itself
#: exact via the tie-corrected formula)
MK_Z2_NUM, MK_Z2_DEN = 9604, 2500


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST per priority segment — the
    significance companion to `theilsen_trend` (that one estimates
    the robust slope; this one answers "is there a monotonic trend
    at all?" without assuming linearity or any distribution):
    S = Σ_{i<j} sign(y_j − y_i) over the weekly spend series, with
    the tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    Σ_t t(t−1)(2t+5)] / 18 (Kendall 1975).

    Everything is integer-exact: S is a sum of signs, var18 carries
    18·Var(S) un-divided, and the 95% two-sided test with continuity
    correction clears to (|S|−1)²·18·2500 > 9604·var18 (z² = 1.96²
    as the exact rational 9604/2500) — no sqrt, no float, both
    engines agree bit-for-bit.

    Scale shape: ONE data-scaled partial aggregate (week ×
    priority); the pair grid is (calendar weeks)²/2 per segment —
    calendar-bounded (~65k pairs per priority on the 7-year domain),
    the `theilsen_trend` class.  At 100 TB the pair grid does not
    grow."""
    from ..io import swap_cache

    # one data-scaled scan; the weekly frame (calendar × priorities)
    # feeds three aggregates (S, n, ties) — cache it so the corpus
    # is read once
    weekly = swap_cache(
        "temporal.mk_weekly", weekly_spend(table(spark, sf_dir, "orders"))
    )
    a = weekly.select(
        F.col("o_orderpriority").alias("pr"),
        F.col("wk").alias("wi"),
        F.col("cents").alias("yi"),
    )
    b = weekly.select(
        F.col("o_orderpriority").alias("pr"),
        F.col("wk").alias("wj"),
        F.col("cents").alias("yj"),
    )
    s = (
        a.join(b, ["pr"])
        .filter(F.col("wi") < F.col("wj"))
        .groupBy("pr")
        .agg(
            F.sum(
                F.when(F.col("yj") > F.col("yi"), 1)
                .when(F.col("yj") < F.col("yi"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
        )
    )
    nt = weekly.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_weeks")
    )
    ties = (
        weekly.groupBy("o_orderpriority", "cents")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    merged = (
        nt.join(ties, "o_orderpriority")
        .join(
            s.withColumnRenamed("pr", "o_orderpriority"),
            "o_orderpriority",
        )
        .select(
            "o_orderpriority",
            "n_weeks",
            "s_stat",
            (
                F.col("n_weeks")
                * (F.col("n_weeks") - 1)
                * (2 * F.col("n_weeks") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var18"),
            "tie_term",
        )
    )
    sig = (
        (F.abs(F.col("s_stat")) - 1)
        * (F.abs(F.col("s_stat")) - 1)
        * F.lit(18 * MK_Z2_DEN)
        > F.lit(MK_Z2_NUM) * F.col("var18")
    ) & (F.abs(F.col("s_stat")) >= 1)
    return merged.select(
        "o_orderpriority",
        "n_weeks",
        "s_stat",
        "var18",
        "tie_term",
        sig.cast("int").alias("significant"),
        F.when(F.col("s_stat") > 0, F.lit("inc"))
        .when(F.col("s_stat") < 0, F.lit("dec"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
    ).orderBy("o_orderpriority")


MANN_KENDALL_ORACLE = f"""
WITH weekly AS (
  SELECT o_orderpriority AS pr,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
s AS (
  SELECT a.pr,
         CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM weekly a JOIN weekly b ON a.pr = b.pr AND a.wk < b.wk
  GROUP BY 1),
nt AS (SELECT pr, CAST(count(*) AS BIGINT) AS n_weeks FROM weekly GROUP BY 1),
ties AS (
  SELECT pr, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT pr, cents, count(*) AS t FROM weekly GROUP BY 1, 2)
  GROUP BY 1)
SELECT nt.pr AS o_orderpriority, nt.n_weeks, s.s_stat,
       CAST(nt.n_weeks * (nt.n_weeks - 1) * (2 * nt.n_weeks + 5)
            - ties.tie_term AS BIGINT) AS var18,
       ties.tie_term,
       CAST(CASE WHEN abs(s.s_stat) >= 1
                  AND (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1)
                      * {18 * MK_Z2_DEN}
                      > {MK_Z2_NUM} * (nt.n_weeks * (nt.n_weeks - 1)
                        * (2 * nt.n_weeks + 5) - ties.tie_term)
            THEN 1 ELSE 0 END AS INT) AS significant,
       CASE WHEN s.s_stat > 0 THEN 'inc'
            WHEN s.s_stat < 0 THEN 'dec' ELSE 'flat' END AS direction
FROM nt JOIN ties ON nt.pr = ties.pr JOIN s ON nt.pr = s.pr
ORDER BY 1
"""


def max_drawdown_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the event value series — the
    path statistic every FX account report leads with (the reference
    domain prices account equity between snapshots; drawdown =
    running peak minus current value, maximized over time) and a
    prefix-scan shape no plain aggregate expresses: peak_t =
    max(v_1..v_t), dd_t = peak_t − v_t, max over t.

    Integer contract: values floor to e4 ticks; the trough is the
    EARLIEST event attaining the maximal drawdown (min event_id among
    argmax rows — the derived-argmin idiom of
    ``source_ablation_report``), so ties resolve identically in both
    engines.  Users whose series never declines report drawdown 0
    with the first event as trough.

    Scale shape: one partitioned running-max window over (user, ts)
    — hash-partitioned by user, no global window — then two
    per-user aggregates and one broadcast-sized argmax join-back."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = e.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1e4).cast("long").alias("v_e4"),
        F.col("ts"),
    )
    dd = base.select(
        "user_id",
        "event_id",
        "v_e4",
        (F.max("v_e4").over(w) - F.col("v_e4")).alias("dd_e4"),
    )
    stats = dd.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("v_e4").cast("long").alias("peak_e4"),
        F.max("dd_e4").cast("long").alias("max_drawdown_e4"),
    )
    trough = (
        dd.join(
            stats.select(
                "user_id", F.col("max_drawdown_e4").alias("mdd")
            ),
            "user_id",
        )
        .filter(F.col("dd_e4") == F.col("mdd"))
        .groupBy("user_id")
        .agg(F.min("event_id").cast("long").alias("trough_event_id"))
    )
    return stats.join(trough, "user_id").orderBy("user_id")


MAX_DRAWDOWN_ORACLE = """
WITH dd AS (
  SELECT user_id, event_id,
         CAST(floor(value * 10000) AS BIGINT) AS v_e4,
         max(CAST(floor(value * 10000) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - CAST(floor(value * 10000) AS BIGINT) AS dd_e4
  FROM events),
stats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(v_e4) AS BIGINT) AS peak_e4,
         CAST(max(dd_e4) AS BIGINT) AS max_drawdown_e4
  FROM dd GROUP BY 1),
trough AS (
  SELECT d.user_id, CAST(min(d.event_id) AS BIGINT) AS trough_event_id
  FROM dd d JOIN stats s
    ON d.user_id = s.user_id AND d.dd_e4 = s.max_drawdown_e4
  GROUP BY 1)
SELECT s.user_id, s.n_events, s.peak_e4, s.max_drawdown_e4,
       t.trough_event_id
FROM stats s JOIN trough t ON s.user_id = t.user_id
ORDER BY 1
"""


def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing over the
    per-priority weekly spend series — the trend-aware forecaster
    between the level-only EWMA chart and the seasonal-naive
    backtest: level l_t and trend b_t carry forward, and the
    one-step forecast is l + b.

    Integer discipline: with α = β = 1/2 both recursions clear to
    single floor-halvings —

        l_t = (y_t + l_{t-1} + b_{t-1}) pdiv 2
        b_t = (l_t − l_{t-1} + b_{t-1}) pdiv 2

    where pdiv is the portable positive-mod FLOOR division (b can go
    negative on a declining series; Spark's shiftright(…, 1) is an
    arithmetic shift = floor, and the oracle spells the same floor
    via the ``_pmod_floordiv`` idiom because DuckDB's integer ``//``
    truncates).  Initialization: l_1 = y_1, b_1 = 0 (documented; the
    backtest error skips t = 1).  Alongside the forecast the fold
    accumulates Σ|y_t − (l+b)_{t-1}| (Holt one-step MAE mass) and
    Σ|y_t − y_{t-1}| (naive MAE mass) so forecast skill vs the naive
    carry-forward is visible in one row per segment.

    Scale shape: ONE data-scaled partial aggregate (week ×
    priority), then a |segments|-row fold over calendar-bounded
    arrays — the ``ewma_control_chart`` shape exactly."""
    weekly = weekly_spend(table(spark, sf_dir, "orders"))
    arr = weekly.groupBy("o_orderpriority").agg(
        F.sort_array(F.collect_list(F.struct("wk", "cents"))).alias("xs")
    )
    init = F.struct(
        F.lit(None).cast("long").alias("l"),
        F.lit(0).cast("long").alias("b"),
        F.lit(None).cast("long").alias("prev_y"),
        F.lit(0).cast("long").alias("holt_mae"),
        F.lit(0).cast("long").alias("naive_mae"),
    )

    def step(acc, x):
        first = acc["l"].isNull()
        y = x["cents"]
        l_new = F.shiftright(y + acc["l"] + acc["b"], 1)
        b_new = F.shiftright(l_new - acc["l"] + acc["b"], 1)
        return F.struct(
            F.when(first, y).otherwise(l_new).cast("long").alias("l"),
            F.when(first, F.lit(0))
            .otherwise(b_new)
            .cast("long")
            .alias("b"),
            y.cast("long").alias("prev_y"),
            (
                acc["holt_mae"]
                + F.when(first, F.lit(0)).otherwise(
                    F.abs(y - (acc["l"] + acc["b"]))
                )
            )
            .cast("long")
            .alias("holt_mae"),
            (
                acc["naive_mae"]
                + F.when(first, F.lit(0)).otherwise(
                    F.abs(y - acc["prev_y"])
                )
            )
            .cast("long")
            .alias("naive_mae"),
        )

    folded = arr.select(
        "o_orderpriority",
        F.size("xs").cast("long").alias("n_weeks"),
        F.aggregate("xs", init, step).alias("acc"),
    )
    return folded.select(
        "o_orderpriority",
        "n_weeks",
        F.col("acc.l").alias("level_final"),
        F.col("acc.b").alias("trend_final"),
        (F.col("acc.l") + F.col("acc.b"))
        .cast("long")
        .alias("forecast_next"),
        F.col("acc.holt_mae").alias("holt_mae_mass"),
        F.col("acc.naive_mae").alias("naive_mae_mass"),
    ).orderBy("o_orderpriority")


def _holt_oracle() -> str:
    from .ml import _pmod_floordiv

    l_new = _pmod_floordiv("x.cents + r.l + r.b", "2", "//")
    # DuckDB disallows a lateral alias inside the recursive member,
    # so the level update is inlined textually into the trend update
    return f"""
WITH RECURSIVE weekly AS (
  SELECT o_orderpriority AS pr,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
idx AS MATERIALIZED (
  SELECT pr, cents,
         row_number() OVER (PARTITION BY pr ORDER BY wk) AS i
  FROM weekly),
r AS (
  SELECT pr, i, cents AS l, CAST(0 AS BIGINT) AS b,
         cents AS prev_y, CAST(0 AS BIGINT) AS holt_mae,
         CAST(0 AS BIGINT) AS naive_mae
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.pr, x.i,
         ({l_new}),
         ({_pmod_floordiv(f"({l_new}) - r.l + r.b", "2", "//")}),
         x.cents,
         r.holt_mae + abs(x.cents - (r.l + r.b)),
         r.naive_mae + abs(x.cents - r.prev_y)
  FROM r
  JOIN idx x ON x.pr = r.pr AND x.i = r.i + 1)
SELECT pr AS o_orderpriority,
       CAST(max(i) AS BIGINT) AS n_weeks,
       CAST(max_by(l, i) AS BIGINT) AS level_final,
       CAST(max_by(b, i) AS BIGINT) AS trend_final,
       CAST(max_by(l, i) + max_by(b, i) AS BIGINT) AS forecast_next,
       CAST(max_by(holt_mae, i) AS BIGINT) AS holt_mae_mass,
       CAST(max_by(naive_mae, i) AS BIGINT) AS naive_mae_mass
FROM r GROUP BY 1 ORDER BY 1
"""


def isotonic_weekly_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (non-decreasing) regression of the weekly spend
    series per priority — the PAVA fit (pool-adjacent-violators;
    sklearn's classifier-calibration workhorse) computed through its
    exact MINIMAX characterization instead of the sequential pool
    loop:

        ŷ_i = max_{j ≤ i} min_{k ≥ i} avg(y_j..y_k)

    which turns an inherently sequential algorithm into three
    data-parallel passes over a bounded interval grid: (1) all
    O(n²) interval floor-averages from prefix sums, (2) a suffix-min
    window per (segment, j), (3) a max-aggregate per (segment, i).
    Monotonicity of the result holds by construction for ANY inner
    value function — so the floor-cents averages (S div len,
    non-negative, both engines truncate identically) keep the fit
    deterministic and integer without disturbing isotonicity.

    Why it's on the surface: isotonic fits are how pipelines
    calibrate model scores against outcomes and how monotone trends
    are extracted without a parametric form — and the minimax
    formulation is the shape that survives 100 TB: the grid is
    |calendar|² per segment (bounded, ~68k rows here), never
    data-scaled.

    Output: one row per (priority, week) with the observed and
    fitted cents; the fit is non-decreasing in week within each
    priority (property-pinned)."""
    weekly = weekly_spend(table(spark, sf_dir, "orders"))
    w = Window.partitionBy("o_orderpriority").orderBy("wk")
    idx = weekly.select(
        "o_orderpriority",
        "wk",
        "cents",
        F.row_number().over(w).alias("i"),
        F.sum("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("psum"),
    )
    n_per = idx.groupBy("o_orderpriority").agg(
        F.max("i").alias("n")
    )
    # interval grid: for each right end k, every left end j <= k;
    # avg(j, k) = (psum_k - psum_{j-1}) div (k - j + 1)
    left = idx.select(
        "o_orderpriority",
        F.col("i").alias("j"),
        (F.col("psum") - F.col("cents")).alias("pbefore"),
    )
    grid = (
        idx.select(
            "o_orderpriority", F.col("i").alias("k"), "psum"
        )
        .join(left, "o_orderpriority")
        .filter(F.col("j") <= F.col("k"))
        .select(
            "o_orderpriority",
            "j",
            "k",
            F.expr(
                "CAST((psum - pbefore) DIV (k - j + 1) AS BIGINT)"
            ).alias("iavg"),
        )
    )
    wsuf = (
        Window.partitionBy("o_orderpriority", "j")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suf = grid.select(
        "o_orderpriority",
        "j",
        "k",
        F.min("iavg").over(wsuf).alias("suffmin"),
    )
    fit = suf.groupBy("o_orderpriority", F.col("k").alias("i")).agg(
        F.max("suffmin").cast("long").alias("fit_cents")
    )
    return (
        idx.join(fit, ["o_orderpriority", "i"])
        .select(
            "o_orderpriority",
            "wk",
            F.col("cents").alias("y_cents"),
            "fit_cents",
        )
        .orderBy("o_orderpriority", "wk")
    )


#: power-method iterations for the stationary distribution — 32
#: halves the residual well past ppm resolution on any aperiodic
#: 5-state chain (residual ~ |λ2|^T; the fixture's mixing is fast)
MARKOV_ITERS = 32

#: the fixture generator's event-type vocabulary, hardcoded in the
#: oracle's pivoted matrix exactly like LANG_MARKERS hardcodes the
#: language markers — the driver only ever runs the fixture tables
MARKOV_STATES = ("click", "error", "purchase", "signup", "view")


def markov_stationary_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stationary distribution π of the first-order event-type
    Markov chain (πP = π) — the long-run occupancy the
    `event_transition_matrix` implies: where a user's session
    settles if the observed dynamics keep running, the baseline an
    anomaly monitor compares short-window type mixes against.

    Power method in integer ppm: π₀ uniform (1e6 div k), then
    MARKOV_ITERS rounds of π'_j = (Σ_i π_i·q_ij) div 1e6 over the
    floor-ppm transition matrix — every step integer, both engines
    replay identical floors (mass lost to flooring stays lost —
    documented, deterministic, < k ppm per round).

    Scale shape: the data-scaled work is the certified transition
    lineage (one lag window + vocab² aggregate); the matrix is
    CATALOG-bounded (k ≤ 5 states, ≤ 25 cells), so the bounded
    `.collect()` + local integer iteration is the KM-scalar
    posture — at 100 TB the matrix is still 25 numbers.  The
    oracle replays the same recursion as a one-row recursive CTE
    over the pivoted matrix."""
    tm = event_transition_matrix(spark, sf_dir).select(
        "from_type", "to_type", "prob_ppm", "n_from"
    )
    cells = tm.collect()  # catalog-bounded (<= k^2 = 25 rows)
    states = sorted(
        {c["from_type"] for c in cells} | {c["to_type"] for c in cells}
    )
    pos = {s: i for i, s in enumerate(states)}
    k = len(states)
    q = [[0] * k for _ in range(k)]
    n_out = {s: 0 for s in states}
    for c in cells:
        q[pos[c["from_type"]]][pos[c["to_type"]]] = int(c["prob_ppm"])
        n_out[c["from_type"]] = int(c["n_from"])
    pi = [1_000_000 // k] * k
    for _ in range(MARKOV_ITERS):
        pi = [
            sum(pi[i] * q[i][j] for i in range(k)) // 1_000_000
            for j in range(k)
        ]
    rows = [(s, n_out[s], pi[pos[s]]) for s in states]
    return spark.createDataFrame(
        rows, "state string, n_out long, pi_ppm long"
    ).orderBy("state")


def _markov_oracle() -> str:
    sts = MARKOV_STATES
    k = len(sts)
    mcols = ",\n         ".join(
        f"coalesce(max(CASE WHEN from_type = '{a}' AND to_type = '{b}'"
        f" THEN q END), 0) AS m{i}_{j}"
        for i, a in enumerate(sts)
        for j, b in enumerate(sts)
    )
    p0 = 1_000_000 // k
    seed = ", ".join(f"CAST({p0} AS BIGINT) AS p{i}" for i in range(k))
    nxt = ", ".join(
        "("
        + " + ".join(f"r.p{i} * m.m{i}_{j}" for i in range(k))
        + f") // 1000000 AS p{j}"
        for j in range(k)
    )
    finals = " UNION ALL ".join(
        f"SELECT '{s}' AS state,"
        f" (SELECT coalesce(max(n_from), 0) FROM q0"
        f"  WHERE from_type = '{s}') AS n_out,"
        f" (SELECT p{i} FROM r WHERE t = {MARKOV_ITERS}) AS pi_ppm"
        for i, s in enumerate(sts)
    )
    return f"""
WITH RECURSIVE seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events),
pairs AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
outg AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
  FROM pairs GROUP BY 1),
q0 AS (
  SELECT p.from_type, p.to_type, o.n_from,
         CAST(CAST(1000000 AS HUGEINT) * p.n // o.n_from AS BIGINT) AS q
  FROM pairs p JOIN outg o ON p.from_type = o.from_type),
m AS (
  SELECT {mcols}
  FROM q0),
r AS (
  SELECT 0 AS t, {seed}
  UNION ALL
  SELECT r.t + 1, {nxt}
  FROM r, m WHERE r.t < {MARKOV_ITERS})
SELECT state, CAST(n_out AS BIGINT) AS n_out,
       CAST(pi_ppm AS BIGINT) AS pi_ppm
FROM ({finals})
ORDER BY state
"""


ISOTONIC_ORACLE = """
WITH weekly AS (
  SELECT o_orderpriority AS pr,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2),
idx AS (
  SELECT pr, wk, cents,
         row_number() OVER (PARTITION BY pr ORDER BY wk) AS i,
         sum(cents) OVER (PARTITION BY pr ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS psum
  FROM weekly),
grid AS (
  SELECT a.pr, b.i AS j, a.i AS k,
         (a.psum - (b.psum - b.cents)) // (a.i - b.i + 1) AS iavg
  FROM idx a JOIN idx b ON a.pr = b.pr AND b.i <= a.i),
suf AS (
  SELECT pr, j, k,
         min(iavg) OVER (PARTITION BY pr, j ORDER BY k DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS suffmin
  FROM grid),
fit AS (
  SELECT pr, k AS i, CAST(max(suffmin) AS BIGINT) AS fit_cents
  FROM suf GROUP BY 1, 2)
SELECT idx.pr AS o_orderpriority, idx.wk, idx.cents AS y_cents,
       fit.fit_cents
FROM idx JOIN fit ON idx.pr = fit.pr AND idx.i = fit.i
ORDER BY 1, 2
"""


QUERIES = {
    "asof_purchase_view": asof_purchase_view,
    "asof_tolerance_view": asof_tolerance_view,
    "scd2_asof_consistency": scd2_asof_consistency,
    "changepoint_detection": changepoint_detection,
    "cusum_drift_monitor": cusum_drift_monitor,
    "ewma_control_chart": ewma_control_chart,
    "mann_kendall_trend": mann_kendall_trend,
    "twap_by_event_type": twap_by_event_type,
    "max_drawdown_by_user": max_drawdown_by_user,
    "holt_linear_forecast": holt_linear_forecast,
    "isotonic_weekly_fit": isotonic_weekly_fit,
    "markov_stationary_distribution": markov_stationary_distribution,
    "gapfill_linear_interp": gapfill_linear_interp,
    "theilsen_trend": theilsen_trend,
    "range_join_price_bands": range_join_price_bands,
    "time_bucket_rollup": time_bucket_rollup,
    "heavy_hitters_exact": heavy_hitters_exact,
    "gapfill_daily_locf": gapfill_daily_locf,
    "ohlc_bars_hourly": ohlc_bars_hourly,
    "event_transition_matrix": event_transition_matrix,
    "daily_anomaly_days": daily_anomaly_days,
    "tz_local_day_rollup": tz_local_day_rollup,
    "seasonal_naive_backtest": seasonal_naive_backtest,
    "portable_countmin_topk": portable_countmin_topk,
    "countmin_upsert_equivalence": countmin_upsert_equivalence,
    "calendar_arithmetic_semantics": calendar_arithmetic_semantics,
}

ORACLES = {
    "calendar_arithmetic_semantics": CALENDAR_ARITH_ORACLE,
    "asof_purchase_view": ASOF_ORACLE,
    "asof_tolerance_view": ASOF_TOLERANCE_ORACLE,
    "scd2_asof_consistency": _asof_consistency_oracle(),
    "changepoint_detection": CHANGEPOINT_ORACLE,
    "cusum_drift_monitor": CUSUM_ORACLE,
    "ewma_control_chart": EWMA_ORACLE,
    "mann_kendall_trend": MANN_KENDALL_ORACLE,
    "twap_by_event_type": _twap_oracle(),
    "max_drawdown_by_user": MAX_DRAWDOWN_ORACLE,
    "holt_linear_forecast": _holt_oracle(),
    "isotonic_weekly_fit": ISOTONIC_ORACLE,
    "markov_stationary_distribution": _markov_oracle(),
    "gapfill_linear_interp": GAPFILL_LINEAR_ORACLE,
    "theilsen_trend": _theilsen_oracle(),
    "range_join_price_bands": RANGE_JOIN_ORACLE,
    "time_bucket_rollup": TIME_BUCKET_ORACLE,
    "heavy_hitters_exact": HEAVY_HITTERS_ORACLE,
    "gapfill_daily_locf": GAPFILL_ORACLE,
    "ohlc_bars_hourly": OHLC_ORACLE,
    "event_transition_matrix": TRANSITION_ORACLE,
    "daily_anomaly_days": DAILY_ANOMALY_ORACLE,
    "tz_local_day_rollup": TZ_LOCAL_DAY_ORACLE,
    "seasonal_naive_backtest": SEASONAL_NAIVE_ORACLE,
    "portable_countmin_topk": PORTABLE_CMS_ORACLE,
    "countmin_upsert_equivalence": _cms_upsert_oracle(),
}
