"""Behavioral analytics over the events stream: retention cohorts and
event-type co-occurrence (association) statistics.

Beyond the reference's scope (its event handling stops at per-row
upserts, `RSS PARSER/gcp_rss.py:86-112`); these are the standard
product-analytics readouts a warehouse team runs on an events table,
and they exercise distinct plan shapes: a self-aligned
min-per-key → join → distinct-count matrix (retention) and a
set-collapse with row-local pair generation (co-occurrence).

Determinism: every emitted ratio is an integer ppm quotient and every
count is exact — no float aggregate anywhere (README rounding rule).

Scale shape (100 TB):

- ``retention_cohorts``: first-touch per user is one map-side-combined
  min; the activity set is a distinct over (user, day) — both shuffle
  on ``user_id``, so the subsequent join is co-partitioned and AQE
  plans it without an extra exchange. The output matrix is
  O(days²) — tiny regardless of input scale.
- ``event_cooccurrence``: one distinct + one groupBy collapse events
  to a per-user *sorted type set* (width bounded by the event-type
  vocabulary — 5 here, dozens in practice), and unordered pairs are
  generated row-locally from that set. No self-join exists anywhere:
  total work is O(users × vocab²), one shuffle, and singles / user
  count / pair counts all reuse the same grouped frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import swap_cache, table


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic day-cohort retention: users grouped by first-active
    day; for each later day, how many came back.

    Emits one row per (cohort_day, day_offset) with the exact active
    count, the cohort size, and retained ppm (integer quotient).

    The cohort size is NOT a separate aggregate joined back (that
    branch re-scans the events table a third time): every user is by
    construction active on their own first day, so ``n_active`` at
    ``day_offset = 0`` IS the cohort size — lifted across the
    cohort's rows with one window over the (cohorts × offsets)
    result grid, which is calendar-bounded at any corpus size.
    """
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = e.distinct()
    return (
        active.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("day_offset") == 0, F.col("n_active"))
            ).over(Window.partitionBy("cohort_day")),
        )
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_active",
            "cohort_size",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_active"
                " DIV cohort_size AS BIGINT)"
            ).alias("retained_ppm"),
        )
    )


RETENTION_ORACLE = """
WITH e AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events),
first AS (
  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
sized AS (
  SELECT cohort_day, count(*) AS cohort_size FROM first GROUP BY 1),
mat AS (
  SELECT f.cohort_day,
         date_diff('day', f.cohort_day, e.day) AS day_offset,
         count(*) AS n_active
  FROM e JOIN first f USING (user_id)
  GROUP BY 1, 2)
SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(m.day_offset AS INT) AS day_offset,
       m.n_active,
       s.cohort_size,
       CAST(CAST(1000000 AS HUGEINT) * m.n_active // s.cohort_size AS BIGINT) AS retained_ppm
FROM mat m JOIN sized s USING (cohort_day)
"""



def event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type association matrix: for each unordered type pair,
    how many users did both, with the integer sufficient statistics
    of PMI/lift (``lift = P(ab)/(P(a)P(b))`` emitted cross-multiplied
    as ppm: ``1e6 * n_both * n_users DIV (n_a * n_b)``) — the log/
    float step is the caller's, keeping the engine output exact.
    """
    # One distinct shuffle into per-user sorted type sets; pair
    # generation is then a row-local nested transform (set width is
    # vocab-bounded), so there is NO self-join and the events table is
    # scanned once — singles, the user count, and the pair counts all
    # derive from the same grouped frame.
    from ..io import swap_cache

    sets = swap_cache(
        "behavior.cooc",
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("types")),
    )
    singles = (
        sets.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_single"))
    )
    nu = sets.agg(F.count("*").cast("long").alias("n_users"))
    pair_col = F.flatten(
        F.transform(
            "types",
            lambda x, i: F.transform(
                F.slice(F.col("types"), i + 2, F.size("types")),
                lambda y: F.struct(x.alias("type_a"), y.alias("type_b")),
            ),
        )
    )
    pairs = (
        sets.select(F.explode(pair_col).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(singles.withColumnRenamed("event_type", "type_a")), "type_a"
        )
        .withColumnRenamed("n_single", "n_a")
        .join(
            F.broadcast(singles.withColumnRenamed("event_type", "type_b")), "type_b"
        )
        .withColumnRenamed("n_single", "n_b")
        .crossJoin(F.broadcast(nu))  # 1-row scalar, broadcast by design
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            "n_users",
            # DECIMAL(38,0) intermediates: 1e6·n_both·n_users passes
            # int64 once n_both·n_users > 9.2e12 (~3M users sharing a
            # common pair) — real at large populations.  Spark would
            # wrap silently (ansi off) while DuckDB errors; the
            # decimal quotient is exact and the result (≤ 1e6·lift)
            # casts back to BIGINT.
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_both * n_users"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


COOCCURRENCE_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
singles AS (SELECT event_type, count(*) AS n_single FROM ut GROUP BY 1),
nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT p.type_a, p.type_b, p.n_both,
       sa.n_single AS n_a, sb.n_single AS n_b,
       CAST(nu.n_users AS BIGINT) AS n_users,
       -- HUGEINT (128-bit, exact floor //): DuckDB's DECIMAL //
       -- rounds rather than floors, diverging from Spark's DIV
       CAST(CAST(1000000 AS HUGEINT) * p.n_both * nu.n_users
            // (CAST(sa.n_single AS HUGEINT) * sb.n_single)
            AS BIGINT) AS lift_ppm
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b, nu
"""


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day distinct active users per day (DAU/WAU
    denominator). Sliding distinct counts don't decompose into window
    partials, so the exact formulation replicates each distinct
    (user, day) pair to the 7 window days it contributes to —
    ``explode(sequence(0, 6))`` day offsets — and re-counts per
    target day.  O(7·rows) with plain hash equi-joins/shuffles; no
    BroadcastNestedLoopJoin (the round-3 band-join formulation
    compared every pair against every grid day, O(rows × grid)).
    The semi-join back to the observed-day grid (calendar-sized,
    broadcast) keeps only days that actually appear, matching the
    oracle's grid semantics."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    ud = e.distinct()
    grid = ud.select(F.col("day").alias("grid_day")).distinct()
    exploded = ud.select(
        "user_id", "day", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select("user_id", F.date_add("day", F.col("off")).alias("grid_day"))
    return (
        exploded.join(F.broadcast(grid), "grid_day", "left_semi")
        .groupBy("grid_day")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(
            F.date_format("grid_day", "yyyy-MM-dd").alias("day"),
            "active_7d",
        )
    )


ROLLING_ACTIVE_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events),
grid AS (SELECT DISTINCT day AS grid_day FROM ud)
SELECT strftime(g.grid_day, '%Y-%m-%d') AS day,
       count(DISTINCT u.user_id) AS active_7d
FROM grid g
JOIN ud u ON u.day <= g.grid_day AND u.day >= g.grid_day - INTERVAL 6 DAY
GROUP BY 1
"""


def type_correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer sufficient statistics for the hourly co-movement
    (Pearson correlation) of every event-type pair: n, Σx, Σy, Σx²,
    Σy², Σxy over the aligned hourly value sums (e4-scaled ints).
    The float correlation is one division away for the caller; the
    engine emits only order-independent integer sums, so the result
    is bit-stable across engines and partitionings.

    Scale: hourly aligned series are calendar-bounded — the self-join
    on ``hour`` is tiny regardless of event volume; the corpus-sized
    work is the one map-side-combined hourly aggregate."""
    e = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hour"),
        "event_type",
        F.floor(F.col("value") * 1e4).cast("long").alias("v_e4"),
    )
    hourly = e.groupBy("hour", "event_type").agg(
        F.sum("v_e4").cast("long").alias("x")
    )
    a, b = hourly.alias("a"), hourly.alias("b")
    return (
        a.join(b, "hour")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.count("*").alias("n_hours"),
            F.sum("a.x").cast("long").alias("sum_x"),
            F.sum("b.x").cast("long").alias("sum_y"),
            F.sum(F.col("a.x") * F.col("a.x")).cast("long").alias("sum_xx"),
            F.sum(F.col("b.x") * F.col("b.x")).cast("long").alias("sum_yy"),
            F.sum(F.col("a.x") * F.col("b.x")).cast("long").alias("sum_xy"),
        )
    )


TYPE_CORR_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS x
  FROM events
  GROUP BY 1, 2)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(*) AS n_hours,
       CAST(sum(a.x) AS BIGINT) AS sum_x,
       CAST(sum(b.x) AS BIGINT) AS sum_y,
       CAST(sum(a.x * a.x) AS BIGINT) AS sum_xx,
       CAST(sum(b.x * b.x) AS BIGINT) AS sum_yy,
       CAST(sum(a.x * b.x) AS BIGINT) AS sum_xy
FROM hourly a JOIN hourly b USING (hour)
WHERE a.event_type < b.event_type
GROUP BY 1, 2
"""


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders: quintile scores for
    recency (latest order date), frequency (order count), monetary
    (exact e2 total spend), each with NTILE(5)-exact semantics under
    a custkey tiebreak (total order → engine-independent buckets),
    aggregated to segment populations.

    NO global window: a full-frame ``ntile`` is a single-partition
    sort of the whole customer frame — the one plan shape that dies
    at 100 TB.  Instead, NTILE is reconstructed from its definition
    (first ``n mod 5`` tiles hold ``ceil(n/5)`` rows): the four tile
    boundary VALUES per metric come from one ``percentile_disc``
    aggregate (state is the value histogram, map-side combined — no
    row ever sorts globally), rows strictly between boundary values
    get their tile by range comparison (row-local), and only rows
    sitting exactly ON a boundary value are disambiguated by their
    (value, custkey) rank *within that one value* — a window
    partitioned by the tied value itself, i.e. tie-run-sized
    partitions, never the full frame.  The three driver-side fetches
    (n; 12 boundary values; ≤12 below-boundary counts) are 1-row
    scalar aggregates, the bounded pattern used across the repo.

    Scale: one map-side-combined per-customer aggregate (persisted
    across the four passes, releasably), three bounded-partition
    windows, then a ≤125-group count."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    # epoch-long recency, not the raw timestamp: an order-isomorphic
    # injection (session tz pinned UTC), so every rank (and hence
    # every NTILE bucket) is identical, and percentile_disc accepts
    # it.  Nanos-vintage files surface o_orderdate as epoch-nanos
    # bigint under legacy.parquet.nanosAsLong (io.table's events
    # handling) — already a monotonic long, use as-is.
    if dict(o.dtypes).get("o_orderdate") == "bigint":
        recency = F.max("o_orderdate")
    else:
        recency = F.unix_micros(F.max("o_orderdate").cast("timestamp"))
    per_cust = swap_cache(
        "behavior.rfm",
        o.groupBy("o_custkey").agg(
            recency.alias("last_order"),
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("spend_e2"),
        )
    )
    metrics = [("r_score", "last_order"), ("f_score", "n_orders"), ("m_score", "spend_e2")]
    n = per_cust.count()
    if n == 0:
        return spark.createDataFrame(
            [], "r_score int, f_score int, m_score int, n_customers long"
        )
    q, r = divmod(n, 5)
    # bpos[t] = #rows in tiles 1..t+1 (NTILE puts the ceil-sized
    # tiles first); row at 0-indexed global position p is in tile
    # 1 + #{b in bpos : p >= b}
    bpos = [t * q + min(t, r) for t in (1, 2, 3, 4)]
    # pass 2 — boundary values: the metric value at global position
    # b-1 is percentile_disc((b-0.5)/n) (smallest v with
    # count(<=v) >= b; the -0.5 absorbs float jitter in f*n)
    vals = per_cust.agg(
        *[
            F.expr(
                f"percentile_disc({(b - 0.5) / n!r}) WITHIN GROUP (ORDER BY {col})"
            ).alias(f"{name}_b{i}")
            for name, col in metrics
            for i, b in enumerate(bpos)
        ]
    ).first()
    bvals = {name: [vals[f"{name}_b{i}"] for i in range(4)] for name, _ in metrics}
    # pass 3 — lo(v) = #rows strictly below each distinct boundary
    # value (global position of a boundary-tied row = lo(v) + its
    # rank within the value)
    lo_exprs = []
    for name, col in metrics:
        for i, v in enumerate(sorted(set(bvals[name]))):
            lo_exprs.append(
                F.sum((F.col(col) < F.lit(v)).cast("long")).alias(f"{name}_lo{i}")
            )
    los = per_cust.agg(*lo_exprs).first()
    df = per_cust
    for name, col in metrics:
        uniq = sorted(set(bvals[name]))
        lo_map = {v: los[f"{name}_lo{i}"] for i, v in enumerate(uniq)}
        is_boundary = F.col(col).isin(uniq)
        # tie-run-sized partitions: boundary rows group by their own
        # value; every other row is its own singleton partition
        pkey = F.when(is_boundary, F.col(col).cast("string")).otherwise(
            F.concat(F.lit("u#"), F.col("o_custkey").cast("string"))
        )
        j = (
            F.row_number().over(Window.partitionBy(pkey).orderBy("o_custkey")) - 1
        )
        lo = F.lit(None).cast("long")
        for v in uniq:
            lo = F.when(F.col(col) == F.lit(v), F.lit(int(lo_map[v]))).otherwise(lo)
        p = lo + j
        tile_on_boundary = F.lit(1)
        tile_off_boundary = F.lit(1)
        for i, b in enumerate(bpos):
            tile_on_boundary = tile_on_boundary + (p >= F.lit(b)).cast("int")
            tile_off_boundary = tile_off_boundary + (
                F.col(col) > F.lit(bvals[name][i])
            ).cast("int")
        df = df.withColumn(
            name,
            F.when(is_boundary, tile_on_boundary)
            .otherwise(tile_off_boundary)
            .cast("int"),
        )
    return df.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers")
    )


RFM_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_e2
  FROM orders
  GROUP BY 1),
scored AS (
  SELECT CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS INT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY spend_e2, o_custkey) AS INT) AS m_score
  FROM per_cust)
SELECT r_score, f_score, m_score, count(*) AS n_customers
FROM scored
GROUP BY 1, 2, 3
"""


#: minimum co-order support for a part pair to be reported
BASKET_MIN_SUPPORT = 2


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over lineitem: part pairs
    co-ordered at least BASKET_MIN_SUPPORT times. Same set-collapse
    shape as ``event_cooccurrence`` — parts per order are collected
    into a sorted set (order width is bounded: ≤7 lineitems in this
    schema, dozens in any real basket) and unordered pairs explode
    row-locally, so no order-keyed self-join ever materializes
    |lineitem|²-shaped intermediates."""
    lp = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sets = lp.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pair_col = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_x"), y.alias("part_y")),
            ),
        )
    )
    return (
        sets.select(F.explode(pair_col).alias("p"))
        .select("p.part_x", "p.part_y")
        .groupBy("part_x", "part_y")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )


BASKET_ORACLE = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_x, b.l_partkey AS part_y
  FROM lp a JOIN lp b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey)
SELECT part_x, part_y, count(*) AS support
FROM pairs
GROUP BY 1, 2
HAVING count(*) >= {BASKET_MIN_SUPPORT}
"""


#: rule gate: keep rules with confidence >= 10% (ppm scale)
RULE_CONF_MIN_PPM = 100_000


def association_rules_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association RULES over the basket pairs — the step after
    ``basket_part_pairs``'s frequent itemsets: every surviving pair
    unfolds into both directed rules X→Y and Y→X with the three
    classic measures, all integer-exact on the ppm grid —
    confidence = supp(XY)/supp(X) and lift =
    supp(XY)·N / (supp(X)·supp(Y)) as DECIMAL(38,0) floor quotients
    (N = basket count; lift > 1e6 ppm ⟺ positive association).
    Rules below RULE_CONF_MIN_PPM confidence are dropped — the gate
    a recommender actually deploys.

    Scale shape: reuses the pair plan (row-local pair explosion, no
    |lineitem|² self-join), adds one item-support aggregate
    (part-cardinality-bounded, broadcast onto the pairs) and one
    1-row basket-count scalar — nothing new shuffles at data scale.
    """
    from ..io import swap_cache

    # persist the distinct basket-item frame (item support + basket
    # count share it) and the min-support pair set (both rule
    # directions consume it): un-persisted this plan re-ran the
    # lineitem distinct and the whole pair pipeline per consumer —
    # 5 lineitem scans (r14 scan sweep; guide §2.4)
    lp = swap_cache(
        "behavior.assoc_lp",
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )
    pairs = swap_cache(
        "behavior.assoc_pairs", basket_part_pairs(spark, sf_dir)
    )
    isup = lp.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("isup")
    )
    n = lp.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("n_baskets")
    )
    rules = pairs.select(
        F.col("part_x").alias("ante"),
        F.col("part_y").alias("cons"),
        "support",
    ).unionByName(
        pairs.select(
            F.col("part_y").alias("ante"),
            F.col("part_x").alias("cons"),
            "support",
        )
    )
    enriched = (
        rules.join(
            F.broadcast(isup.withColumnRenamed("l_partkey", "ante")), "ante"
        )
        .withColumnRenamed("isup", "supp_ante")
        .join(
            F.broadcast(isup.withColumnRenamed("l_partkey", "cons")), "cons"
        )
        .withColumnRenamed("isup", "supp_cons")
        .crossJoin(F.broadcast(n))
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return enriched.select(
        "ante",
        "cons",
        F.col("support").cast("long").alias("support"),
        F.col("supp_ante").cast("long").alias("supp_ante"),
        F.col("supp_cons").cast("long").alias("supp_cons"),
        F.expr(
            f"CAST({dec.format('1000000')} * support DIV supp_ante AS BIGINT)"
        ).alias("confidence_ppm"),
        F.expr(
            f"CAST({dec.format('1000000')} * support * n_baskets"
            f" DIV ({dec.format('supp_ante')} * supp_cons) AS BIGINT)"
        ).alias("lift_ppm"),
    ).filter(F.col("confidence_ppm") >= RULE_CONF_MIN_PPM)


ASSOC_RULES_ORACLE = f"""
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_x, b.l_partkey AS part_y,
         CAST(count(*) AS BIGINT) AS support
  FROM lp a JOIN lp b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}),
rules AS (
  SELECT part_x AS ante, part_y AS cons, support FROM pairs
  UNION ALL
  SELECT part_y AS ante, part_x AS cons, support FROM pairs),
isup AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS isup FROM lp GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM lp)
SELECT r.ante, r.cons, r.support,
       sa.isup AS supp_ante, sc.isup AS supp_cons,
       CAST(CAST(1000000 AS HUGEINT) * r.support // sa.isup AS BIGINT)
         AS confidence_ppm,
       CAST(CAST(1000000 AS HUGEINT) * r.support * n.n_baskets
            // (CAST(sa.isup AS HUGEINT) * sc.isup) AS BIGINT) AS lift_ppm
FROM rules r
JOIN isup sa ON sa.l_partkey = r.ante
JOIN isup sc ON sc.l_partkey = r.cons, n
WHERE CAST(1000000 AS HUGEINT) * r.support // sa.isup >= {RULE_CONF_MIN_PPM}
"""


def revenue_wow_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue deltas per order priority: weekly e2
    totals with the previous week's total and the signed delta ppm
    (integer cross-quotient — ``1e6·(cur-prev) DIV prev``). The
    period-over-period readout every BI layer derives; one
    map-side-combined weekly aggregate plus a lag window over the
    calendar-bounded weekly series."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_format(F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd").alias(
            "week"
        ),
        "o_orderpriority",
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("rev_e2")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("week")
    return (
        weekly.withColumn("prev_e2", F.lag("rev_e2").over(w))
        .filter(F.col("prev_e2").isNotNull())
        .select(
            "week",
            "o_orderpriority",
            "rev_e2",
            "prev_e2",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * (rev_e2 - prev_e2)"
                " DIV prev_e2 AS BIGINT)"
            ).alias("delta_ppm"),
        )
    )


WOW_DELTA_ORACLE = """
WITH weekly AS (
  SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
         o_orderpriority,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2
  FROM orders
  GROUP BY 1, 2),
lagged AS (
  SELECT *,
         lag(rev_e2) OVER (PARTITION BY o_orderpriority ORDER BY week) AS prev_e2
  FROM weekly)
SELECT week, o_orderpriority, rev_e2, prev_e2,
       CAST(CAST(1000000 AS HUGEINT) * (rev_e2 - prev_e2) // prev_e2 AS BIGINT) AS delta_ppm
FROM lagged
WHERE prev_e2 IS NOT NULL
"""


#: attribution lookback, seconds
ATTRIB_WINDOW_S = 1800


def attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution per purchase: the FIRST and LAST view
    within the user's trailing 30-minute lookback — both touch models
    from ONE range-frame window pass (``rangeBetween`` over epoch
    micros, views contributing via a conditional min/max), never a
    per-purchase range join.  The value column is the purchase's
    floor-e4 amount so a revenue-by-touch rollup is one groupBy away.

    Scale: single shuffle on user_id; the range frame is
    time-bounded, so window state per row is the 30-minute slice, not
    the user's history."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 1e4).cast("long").alias("v_e4"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-ATTRIB_WINDOW_S * 1_000_000, 0)
    )
    view_ts = F.when(F.col("event_type") == "view", F.col("ts_us"))
    out = base.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_us",
        "v_e4",
        F.min(view_ts).over(w).alias("first_touch_us"),
        F.max(view_ts).over(w).alias("last_touch_us"),
    )
    return (
        out.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            "v_e4",
            "first_touch_us",
            "last_touch_us",
            F.col("first_touch_us").isNotNull().alias("attributed"),
        )
    )


ATTRIBUTION_ORACLE = f"""
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         CAST(floor(value * 10000) AS BIGINT) AS v_e4
  FROM events),
win AS (
  SELECT *,
         min(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {ATTRIB_WINDOW_S} * 1000000 PRECEDING
                       AND CURRENT ROW) AS first_touch_us,
         max(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {ATTRIB_WINDOW_S} * 1000000 PRECEDING
                       AND CURRENT ROW) AS last_touch_us
  FROM base)
SELECT event_id, user_id, ts_us AS purchase_ts_us, v_e4,
       first_touch_us, last_touch_us,
       first_touch_us IS NOT NULL AS attributed
FROM win WHERE event_type = 'purchase'
"""


#: Kaplan-Meier geometry: customer tenure is measured in epoch-weeks
#: (the engine-neutral datediff // 7 key) over the ORDER history —
#: the events fixture spans only ~a month with every user active to
#: the end (measured: zero churn at any grain), while orders span
#: seven years with ~half the customers' last order well inside the
#: window — and a customer whose LAST order falls within this many
#: weeks of the corpus end is right-CENSORED (still active), not
#: churned
KM_CENSOR_W = 26


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of CUSTOMER activity — the distribution-free
    retention curve (Kaplan & Meier 1958) that handles the fact a
    panel always ends mid-observation: a customer still ordering near the
    corpus end is right-CENSORED at their observed tenure, not
    counted as churned (the naive "retention = active/total" curve
    `retention_cohorts` draws is biased low for exactly this reason
    — this estimator is the unbiased companion).

    Per tenure week t: at-risk n_t (tenure ≥ t), churn events d_t
    (last event at tenure t, not censored), censorings c_t, and the
    survival ppm S_t = floor-product Π(1 − d_i/n_i) — stepwise floor
    after each multiply, the `lsh_s_curve_planner` discipline, so
    both engines replay identical integer arithmetic (error < #steps
    ppm, irrelevant at curve granularity).

    Scale shape: ONE data-scaled per-user (first, last) aggregate;
    everything after runs on a tenure-indexed frame bounded by
    calendar weeks — the fold is a single ≤|weeks|-element
    `F.aggregate`, no global window over data."""
    o = table(spark, sf_dir, "orders")
    wk = F.expr(
        "datediff(o_orderdate, DATE'1970-01-01') DIV 7"
    ).cast("long")
    per_user = o.select("o_custkey", wk.alias("wk")).groupBy(
        "o_custkey"
    ).agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    wmax = per_user.agg(F.max("w1").alias("m")).collect()[0]["m"]
    ten = per_user.select(
        (F.col("w1") - F.col("w0")).cast("long").alias("t"),
        (F.col("w1") > wmax - KM_CENSOR_W).cast("long").alias("censored"),
    )
    cells = ten.groupBy("t").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    arr = cells.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "c"))).alias("xs"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("total"),
    )
    # fold ascending tenure: at-risk = users not yet consumed;
    # survival = stepwise-floor product in ppm; emit one struct per
    # tenure row (calendar-bounded array)
    init = F.struct(
        F.col("total").alias("risk"),
        F.lit(1_000_000).cast("long").alias("s"),
        F.expr(
            "CAST(array() AS ARRAY<STRUCT<t: BIGINT, n_at_risk: BIGINT,"
            " d_churned: BIGINT, c_censored: BIGINT, s_ppm: BIGINT>>)"
        ).alias("out"),
    )

    def step(acc, x):
        s_new = F.floor(
            acc["s"] * (acc["risk"] - x["d"]) / acc["risk"]
        ).cast("long")
        row = F.struct(
            x["t"].alias("t"),
            acc["risk"].alias("n_at_risk"),
            x["d"].alias("d_churned"),
            x["c"].alias("c_censored"),
            s_new.alias("s_ppm"),
        )
        return F.struct(
            (acc["risk"] - x["d"] - x["c"]).alias("risk"),
            s_new.alias("s"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = arr.select(
        F.explode(F.aggregate("xs", init, step)["out"]).alias("r")
    )
    return folded.select(
        F.col("r.t").alias("t"),
        F.col("r.n_at_risk").alias("n_at_risk"),
        F.col("r.d_churned").alias("d_churned"),
        F.col("r.c_censored").alias("c_censored"),
        F.col("r.s_ppm").alias("s_ppm"),
    ).orderBy("t")


KAPLAN_MEIER_ORACLE = f"""
WITH RECURSIVE pu AS (
  SELECT o_custkey,
         min((CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7) AS w0,
         max((CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7) AS w1
  FROM orders GROUP BY 1),
mx AS (SELECT max(w1) AS m FROM pu),
tenr AS (
  SELECT w1 - w0 AS t,
         CASE WHEN w1 > (SELECT m FROM mx) - {KM_CENSOR_W}
              THEN 1 ELSE 0 END AS censored
  FROM pu),
cells AS (
  SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d,
         CAST(sum(censored) AS BIGINT) AS c
  FROM tenr GROUP BY 1),
idx AS MATERIALIZED (
  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i FROM cells),
tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS total FROM cells),
r AS (
  SELECT i, t, d, c,
         (SELECT total FROM tot) AS n_at_risk,
         CAST(floor(CAST(1000000 AS BIGINT)
              * ((SELECT total FROM tot) - d)
              / (SELECT total FROM tot)) AS BIGINT) AS s
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.i, x.t, x.d, x.c,
         r.n_at_risk - r.d - r.c,
         CAST(floor(r.s * (r.n_at_risk - r.d - r.c - x.d)
                    / (r.n_at_risk - r.d - r.c)) AS BIGINT)
  FROM r JOIN idx x ON x.i = r.i + 1)
SELECT t, n_at_risk, d AS d_churned, c AS c_censored, s AS s_ppm
FROM r ORDER BY t
"""


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the same censored
    customer-tenure frame as ``kaplan_meier_retention`` — the
    additive companion to KM's multiplicative survival: H(t) =
    Σ_{i ≤ t} d_i/n_i, the estimator actuaries and reliability
    engineers read when RATES matter (a flat hazard segment means
    constant churn risk; a rising one means wear-out).  KM answers
    "what fraction survives"; Nelson-Aalen answers "how hard is the
    hazard accumulating" — the two disagree exactly where churn
    concentrates, which is why both belong on the surface.

    Integer contract: each increment is floor(1e6·d_i/n_i) ppm and
    the cumulative hazard is the plain SUM of those floored
    increments — no product, so unlike KM no stepwise-floor caveat
    is even needed; both engines add identical integers.  The
    censoring rule, the tenure grid, and the one bounded
    ``.collect()`` (1-row scalar max, the KM precedent) are shared
    with KM by construction.

    Scale shape: identical to KM — one data-scaled per-user
    aggregate, then a calendar-bounded fold."""
    o = table(spark, sf_dir, "orders")
    wk = F.expr(
        "datediff(o_orderdate, DATE'1970-01-01') DIV 7"
    ).cast("long")
    per_user = o.select("o_custkey", wk.alias("wk")).groupBy(
        "o_custkey"
    ).agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    wmax = per_user.agg(F.max("w1").alias("m")).collect()[0]["m"]
    ten = per_user.select(
        (F.col("w1") - F.col("w0")).cast("long").alias("t"),
        (F.col("w1") > wmax - KM_CENSOR_W).cast("long").alias("censored"),
    )
    cells = ten.groupBy("t").agg(
        F.sum(1 - F.col("censored")).cast("long").alias("d"),
        F.sum("censored").cast("long").alias("c"),
    )
    arr = cells.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("t", "d", "c"))).alias("xs"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("total"),
    )
    init = F.struct(
        F.col("total").alias("risk"),
        F.lit(0).cast("long").alias("h"),
        F.expr(
            "CAST(array() AS ARRAY<STRUCT<t: BIGINT, n_at_risk: BIGINT,"
            " d_churned: BIGINT, h_inc_ppm: BIGINT, h_cum_ppm: BIGINT>>)"
        ).alias("out"),
    )

    def step(acc, x):
        inc = F.floor(F.lit(1_000_000) * x["d"] / acc["risk"]).cast(
            "long"
        )
        h_new = (acc["h"] + inc).cast("long")
        row = F.struct(
            x["t"].alias("t"),
            acc["risk"].alias("n_at_risk"),
            x["d"].alias("d_churned"),
            inc.alias("h_inc_ppm"),
            h_new.alias("h_cum_ppm"),
        )
        return F.struct(
            (acc["risk"] - x["d"] - x["c"]).alias("risk"),
            h_new.alias("h"),
            F.array_append(acc["out"], row).alias("out"),
        )

    folded = arr.select(
        F.explode(F.aggregate("xs", init, step)["out"]).alias("r")
    )
    return folded.select(
        F.col("r.t").alias("t"),
        F.col("r.n_at_risk").alias("n_at_risk"),
        F.col("r.d_churned").alias("d_churned"),
        F.col("r.h_inc_ppm").alias("h_inc_ppm"),
        F.col("r.h_cum_ppm").alias("h_cum_ppm"),
    ).orderBy("t")


NELSON_AALEN_ORACLE = f"""
WITH pu AS (
  SELECT o_custkey,
         min((CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7) AS w0,
         max((CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7) AS w1
  FROM orders GROUP BY 1),
mx AS (SELECT max(w1) AS m FROM pu),
tenr AS (
  SELECT w1 - w0 AS t,
         CASE WHEN w1 > (SELECT m FROM mx) - {KM_CENSOR_W}
              THEN 1 ELSE 0 END AS censored
  FROM pu),
cells AS (
  SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d,
         CAST(sum(censored) AS BIGINT) AS c
  FROM tenr GROUP BY 1),
risk AS (
  -- at-risk before tenure t = everyone minus all earlier exits;
  -- additive, so the oracle needs no recursion: a running window
  -- over the tenure grid replays the fold exactly
  SELECT t, d, c,
         (SELECT sum(d + c) FROM cells)
           - coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_at_risk
  FROM cells),
inc AS (
  SELECT t, n_at_risk, d,
         CAST(floor(CAST(1000000 AS BIGINT) * d / n_at_risk)
              AS BIGINT) AS h_inc_ppm
  FROM risk)
SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk,
       d AS d_churned, h_inc_ppm,
       CAST(sum(h_inc_ppm) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS h_cum_ppm
FROM inc ORDER BY t
"""


QUERIES = {
    "retention_cohorts": retention_cohorts,
    "kaplan_meier_retention": kaplan_meier_retention,
    "nelson_aalen_hazard": nelson_aalen_hazard,
    "event_cooccurrence": event_cooccurrence,
    "rolling_active_users": rolling_active_users,
    "type_correlation_stats": type_correlation_stats,
    "rfm_segmentation": rfm_segmentation,
    "basket_part_pairs": basket_part_pairs,
    "association_rules_topk": association_rules_topk,
    "revenue_wow_delta": revenue_wow_delta,
    "attribution_first_last": attribution_first_last,
}

ORACLES = {
    "retention_cohorts": RETENTION_ORACLE,
    "kaplan_meier_retention": KAPLAN_MEIER_ORACLE,
    "nelson_aalen_hazard": NELSON_AALEN_ORACLE,
    "event_cooccurrence": COOCCURRENCE_ORACLE,
    "rolling_active_users": ROLLING_ACTIVE_ORACLE,
    "type_correlation_stats": TYPE_CORR_ORACLE,
    "rfm_segmentation": RFM_ORACLE,
    "basket_part_pairs": BASKET_ORACLE,
    "association_rules_topk": ASSOC_RULES_ORACLE,
    "revenue_wow_delta": WOW_DELTA_ORACLE,
    "attribution_first_last": ATTRIBUTION_ORACLE,
}
