"""Window / analytic operators (SURVEY §2.7, W1-W2).

W1 is the reference's only stateful operator: while iterating a feed
in entry order, the last-seen account snapshot's balance/equity/
floating-profit/closed-profit/free-margin values are carried forward
onto every subsequent position row (`RSS PARSER/gcp_rss.py:84-92`,
consumed at `:163`). That per-run mutable-variable scan is exactly a
forward-fill (LOCF) window:

    last(col, ignorenulls=True) OVER (PARTITION BY account
                                      ORDER BY entry_idx
                                      ROWS UNBOUNDED PRECEDING..CURRENT)

Scale notes: the window shuffles once on the partition key (account);
state per key is one row of carried values — no unbounded buffering.
The streaming restatement (transformWithStateInPandas) lives in
streaming/pipelines.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table


def locf(
    df: DataFrame,
    cols: Sequence[str],
    partition_by: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """W1 (``locf_sql``) over each of ``cols``; ``order_by`` items are
    SQL sort text (``"entry_idx"``, ``"ts DESC"``)."""
    over = (", ".join(f"`{p}`" for p in partition_by), ", ".join(order_by))
    return df.withColumns({c: F.expr(locf_sql(f"`{c}`", *over)) for c in cols})


def locf_sql(expr: str, partition_by: str, order_by: str) -> str:
    """W1: forward-fill ``expr`` from the last non-NULL value seen within
    the partition, in order. NULL until the first snapshot — matching
    the reference's `bal = eq = … = None` initialization."""
    return (
        f"last({expr}, true) OVER (PARTITION BY {partition_by} ORDER BY {order_by} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


# ── oracle-checked demonstration ─────────────────────────────────────────
# Feed simulation on events: per user (=account), 'signup' rows act as
# account snapshots carrying `value`; every row then receives the last
# snapshot's value forward-filled, and only non-snapshot rows survive
# (F2) — the exact RSS pipeline shape §3.2.

def w1_locf_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    snap = F.when(F.col("event_type") == "signup", F.col("value"))
    feed = e.select(
        F.col("user_id").alias("account_id"),
        F.col("event_id").alias("entry_idx"),
        F.col("event_type"),
        snap.alias("account_balance"),
    )
    filled = locf(feed, ["account_balance"], ["account_id"], ["entry_idx ASC"])
    return filled.filter(F.col("event_type") != "signup").select(
        "account_id", "entry_idx", "account_balance"
    )


W1_ORACLE = """
WITH feed AS (
  SELECT user_id AS account_id,
         event_id AS entry_idx,
         event_type,
         CASE WHEN event_type = 'signup' THEN value END AS account_balance
  FROM events),
filled AS (
  SELECT account_id, entry_idx, event_type,
         last_value(account_balance IGNORE NULLS) OVER (
             PARTITION BY account_id ORDER BY entry_idx ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS account_balance
  FROM feed)
SELECT account_id, entry_idx, account_balance
FROM filled WHERE event_type != 'signup'
"""


def w2_keep_one_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: newest event per (user, event_type) — row_number()==1."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


W2_ORACLE = """
SELECT user_id, event_type, event_id, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


#: greedy-throttle window: an event within this many seconds of the
#: LAST KEPT event of the same user is a duplicate (debounce/retry
#: suppression).  30 min matches the session grain; ~4.6% of the
#: fixture's consecutive gaps fall under it, so the drop branch is
#: exercised.
JITTER_T_S = 1800


def jitter_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy inter-event throttle dedup — the debounce rule
    (suppress events within JITTER_T_S of the last KEPT event per
    user) that windowed dedup CANNOT express: whether event i
    survives depends on which earlier events survived, so the rule
    is inherently sequential (a chain A—B—C at 20-min spacing keeps
    A and C; `lag`-based dedup would wrongly drop C because its raw
    predecessor B is close, even though B itself was dropped).

    The sequential state is one integer (last kept timestamp), so
    the operator is the same bounded per-key FOLD as
    `ewma_control_chart`: sort_array + F.aggregate per user, no
    window at all.  The oracle replays the recursion as a recursive
    CTE (frontier = one row per user, depth = max per-user events).

    Scale shape: per-user arrays are bounded by per-user event
    counts; for adversarially heavy keys the production path is the
    state-store form (`applyInPandasWithState`, as in
    streaming_locf_stateful) — this is the batch contract of that
    rule."""
    e = table(spark, sf_dir, "events")
    arr = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts").cast("long").alias("t"),
                F.col("event_id").alias("eid"),
            ).alias("x"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("x")).alias("xs"))
    )
    init = F.struct(
        F.lit(-(1 << 60)).cast("long").alias("last"),
        F.lit(0).cast("long").alias("kept"),
    )

    def step(acc, x):
        keep = (x["t"] - acc["last"]) > JITTER_T_S
        return F.struct(
            F.when(keep, x["t"]).otherwise(acc["last"]).alias("last"),
            (acc["kept"] + keep.cast("long")).alias("kept"),
        )

    folded = arr.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        F.aggregate("xs", init, step).alias("acc"),
    )
    return folded.select(
        "user_id",
        "n_events",
        F.col("acc.kept").alias("n_kept"),
        (F.col("n_events") - F.col("acc.kept"))
        .cast("long")
        .alias("n_dropped"),
    ).orderBy("user_id")


JITTER_DEDUP_ORACLE = f"""
WITH RECURSIVE idx AS MATERIALIZED (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts ASC, event_id ASC) AS i
  FROM events),
n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM idx GROUP BY 1),
r AS (
  SELECT user_id, i, t AS last, CAST(1 AS BIGINT) AS kept
  FROM idx WHERE i = 1
  UNION ALL
  SELECT x.user_id, x.i,
         CASE WHEN x.t - r.last > {JITTER_T_S} THEN x.t ELSE r.last END,
         r.kept + CASE WHEN x.t - r.last > {JITTER_T_S}
                       THEN 1 ELSE 0 END
  FROM r JOIN idx x ON x.user_id = r.user_id AND x.i = r.i + 1)
SELECT n.user_id, n.n_events,
       CAST(max_by(r.kept, r.i) AS BIGINT) AS n_kept,
       CAST(n.n_events - max_by(r.kept, r.i) AS BIGINT) AS n_dropped
FROM r JOIN n ON r.user_id = n.user_id
GROUP BY 1, 2 ORDER BY 1
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands): a new session starts after
    >30 min of inactivity per user; batch analogue of session_window."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = (gap.isNull() | (gap > 1800)).cast("int")
    sess_id = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    with_sess = e.withColumn("session_seq", sess_id)
    # session value as an exact integer sum: round(sum(double), 4) is
    # partial-aggregation-order-dependent in ulps (the round-2 hash
    # mismatch); floor-scaling each value first makes the sum
    # order-independent and floor of identical IEEE products is
    # bit-exact cross-engine (no round-half hazard at all)
    return with_sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("session_value_e4"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


SESSIONIZE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))) AS BIGINT) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked)
SELECT user_id,
       -- DuckDB windowed sum() is HUGEINT; the driver fetches through
       -- pandas where HUGEINT renders float64 ("5.0" vs Spark's "5").
       -- BIGINT-cast so both engines canonicalize identically.
       CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS session_value_e4,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
FROM sess
GROUP BY user_id, session_seq
"""


#: inactivity thresholds swept (seconds): 5 min / 15 min / 30 min /
#: 60 min — the knob-tuning grid an analytics team actually compares
SESSION_GAPS_S = (300, 900, 1800, 3600)


def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-threshold sensitivity sweep: session counts and
    per-session event economics at every SESSION_GAPS_S threshold in
    ONE pass — the tuning readout behind `sessionize_events`'s fixed
    30-minute knob (pick the threshold where the session count curve
    flattens; re-running the full sessionizer per candidate pays the
    user-keyed shuffle k times for one decision).

    All k thresholds share the single per-user lag window: each
    event's gap classifies against every threshold as k row-local
    indicator columns, and one aggregate emits the k session counts
    (a session-start indicator sums to the session count exactly).
    Output per threshold: sessions, events-per-session ppm, the
    single-event-session count (the over-fragmentation signal), and
    mean session span seconds (ppm floor).

    Scale: the same one user-keyed shuffle the sessionizer pays,
    paid ONCE for the whole sweep; the aggregate is constant-width.
    Single-event sessions per threshold need each session's size —
    that is a second pass over the sessionized frame per threshold,
    so instead the count is derived WITHOUT sessionizing: a session
    is single-event iff its start's NEXT event (same user) also
    starts a session (or doesn't exist) — one lead() on the shared
    window, still one pass."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    tsl = F.col("ts").cast("long")
    gap = tsl - F.lag(tsl).over(w)
    next_gap = F.lead(tsl).over(w) - tsl
    rows = e.select(
        *[
            (gap.isNull() | (gap > g)).cast("long").alias(f"s_{g}")
            for g in SESSION_GAPS_S
        ],
        *[
            (
                (gap.isNull() | (gap > g))
                & (F.lead(tsl).over(w).isNull() | (next_gap > g))
            )
            .cast("long")
            .alias(f"solo_{g}")
            for g in SESSION_GAPS_S
        ],
        *[
            F.when(~(gap.isNull() | (gap > g)), gap)
            .otherwise(F.lit(0))
            .alias(f"span_{g}")
            for g in SESSION_GAPS_S
        ],
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        *[F.sum(f"s_{g}").cast("long").alias(f"ns_{g}") for g in SESSION_GAPS_S],
        *[
            F.sum(f"solo_{g}").cast("long").alias(f"nsolo_{g}")
            for g in SESSION_GAPS_S
        ],
        *[
            F.sum(f"span_{g}").cast("long").alias(f"sp_{g}")
            for g in SESSION_GAPS_S
        ],
    )
    stack = ", ".join(
        f"{g}, ns_{g}, nsolo_{g}, sp_{g}" for g in SESSION_GAPS_S
    )
    return agg.select(
        F.expr(
            f"stack({len(SESSION_GAPS_S)}, {stack})"
            " as (gap_s, n_sessions, n_single_event, span_sum_s)"
        ),
        "n_events",
    ).select(
        F.col("gap_s").cast("long").alias("gap_s"),
        "n_sessions",
        "n_single_event",
        "n_events",
        F.expr("1000000 * n_events DIV n_sessions")
        .cast("long")
        .alias("events_per_session_ppm"),
        F.expr("1000000 * span_sum_s DIV n_sessions")
        .cast("long")
        .alias("mean_span_s_ppm"),
    )


def _session_gap_oracle() -> str:
    legs = []
    for g in SESSION_GAPS_S:
        legs.append(f"""
SELECT CAST({g} AS BIGINT) AS gap_s,
       CAST(sum(s) AS BIGINT) AS n_sessions,
       CAST(sum(solo) AS BIGINT) AS n_single_event,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(1000000 AS HUGEINT) * count(*) // sum(s) AS BIGINT)
         AS events_per_session_ppm,
       CAST(CAST(1000000 AS HUGEINT) * sum(sp) // sum(s) AS BIGINT)
         AS mean_span_s_ppm
FROM (
  SELECT CASE WHEN pg IS NULL OR pg > {g} THEN 1 ELSE 0 END AS s,
         CASE WHEN (pg IS NULL OR pg > {g})
                   AND (ng IS NULL OR ng > {g}) THEN 1 ELSE 0 END AS solo,
         CASE WHEN NOT (pg IS NULL OR pg > {g}) THEN pg ELSE 0 END AS sp
  FROM gaps)""")
    return f"""
WITH gaps AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(lag(ts) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)))
             AS BIGINT) AS pg,
         CAST(floor(epoch(lead(ts) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)))
             AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) AS ng
  FROM events)
{" UNION ALL ".join(legs)}
"""


def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILT-IN batch ``session_window`` aggregation over the same
    30-minute inactivity gap as the hand-rolled `sessionize_events` —
    the two formulations certify each other: identical event→session
    assignment, with the native form emitting the engine-computed
    session bounds instead of a running sequence number.

    Scale: single shuffle on (user_id, session merge) — Spark merges
    adjacent session fragments in the aggregation itself, no window
    pass at all."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e4))
            .cast("long")
            .alias("session_value_e4"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "session_value_e4",
        )
    )


#: the oracle re-derives the same sessions via gaps-and-islands —
#: DuckDB has no session_window, which is exactly why both
#: formulations exist
SESSION_WINDOW_NATIVE_ORACLE = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                   OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS seq
  FROM marked)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT)
         AS session_value_e4
FROM sess
GROUP BY user_id, seq
"""


def interarrival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type: the statistic
    that justifies a sessionization gap threshold. Per-user
    consecutive gaps in exact epoch-micros (long subtraction — no
    float time anywhere), summarized with discrete percentiles
    (actual data values, identical in both engines).

    Plan: one lag window per user (bounded state), then a
    vocab-group aggregate."""
    from ..io import table

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        e.withColumn("prev_us", F.lag("ts_us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .select("event_type", (F.col("ts_us") - F.col("prev_us")).alias("gap_us"))
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long")
        .alias("p50_gap_us"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_us)")
        .cast("long")
        .alias("p90_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


INTERARRIVAL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events)
SELECT event_type,
       count(*) AS n_gaps,
       CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS p50_gap_us,
       CAST(quantile_disc(gap_us, 0.9) AS BIGINT) AS p90_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM seq
WHERE gap_us IS NOT NULL
GROUP BY 1
"""


#: most-common session paths reported
PATHS_TOPK = 20


def session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top session type-paths: the ordered event-type sequence of each
    session (as a '>'-joined string), counted and ranked — the
    behavioral-pattern readout a recommender or UX team reads first.
    Reuses the exact sessionization assignment of
    ``sessionize_events``; path strings are bounded by session length
    (gap-bounded), and the top-k rank runs over the path-vocabulary
    aggregate, not the event stream."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = (gap.isNull() | (gap > 1800)).cast("int")
    sess_id = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    paths = (
        e.withColumn("session_seq", sess_id)
        .groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
    )
    # two-level tournament top-k: distinct paths grow ~linearly with
    # session count (high-cardinality strings, not a bounded vocab),
    # so a partitionless Window over them is a single-task global
    # sort at scale.  Level 1 ranks within 32 hash buckets of the
    # path (parallel); only the ≤ 32·K bucket winners reach the
    # global rank, whose input is now constant-bounded.  Bucket
    # pruning is lossless: every global top-K row is a top-K row of
    # its own bucket.  The hash is engine-internal (never compared
    # to the oracle), so the cheap JVM xxhash64 is fine.
    w1 = Window.partitionBy("pb").orderBy(F.desc("n_sessions"), F.asc("path"))
    survivors = (
        paths.withColumn("pb", F.pmod(F.xxhash64("path"), F.lit(32)))
        .withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= PATHS_TOPK)
    )
    wr = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        survivors.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= PATHS_TOPK)
        .select("rank", "path", "n_sessions")
    )


SESSION_PATHS_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))) AS BIGINT) > 1800
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked),
paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess
  GROUP BY user_id, session_seq),
counted AS (
  SELECT path, count(*) AS n_sessions FROM paths GROUP BY 1),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rank
  FROM counted)
SELECT CAST(rank AS INT) AS rank, path, n_sessions
FROM ranked WHERE rank <= {PATHS_TOPK}
"""


def traffic_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour traffic matrix: counts, distinct users, and
    exact e4 value totals per (day-of-week, hour) cell — the
    seasonality heatmap behind capacity planning. Day names via the
    locale-stable short pattern, identical in both engines; one
    map-side-combined aggregate, 168 output cells max."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format("ts", "E").alias("dow"),
            F.hour("ts").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("value_e4"),
        )
    )


TRAFFIC_SEASONALITY_ORACLE = """
SELECT strftime(ts, '%a') AS dow,
       CAST(hour(ts) AS INT) AS hour_of_day,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(floor(value * 10000) AS BIGINT)) AS BIGINT) AS value_e4
FROM events
GROUP BY 1, 2
"""


QUERIES = {
    "w1_locf_snapshots": w1_locf_snapshots,
    "w2_keep_one_per_key": w2_keep_one_per_key,
    "sessionize_events": sessionize_events,
    "jitter_dedup_events": jitter_dedup_events,
    "session_gap_sensitivity": session_gap_sensitivity,
    "session_window_native": session_window_native,
    "interarrival_gaps": interarrival_gaps,
    "session_paths": session_paths,
    "traffic_seasonality": traffic_seasonality,
}

ORACLES = {
    "w1_locf_snapshots": W1_ORACLE,
    "w2_keep_one_per_key": W2_ORACLE,
    "sessionize_events": SESSIONIZE_ORACLE,
    "jitter_dedup_events": JITTER_DEDUP_ORACLE,
    "session_gap_sensitivity": _session_gap_oracle(),
    "session_window_native": SESSION_WINDOW_NATIVE_ORACLE,
    "interarrival_gaps": INTERARRIVAL_ORACLE,
    "session_paths": SESSION_PATHS_ORACLE,
    "traffic_seasonality": TRAFFIC_SEASONALITY_ORACLE,
}
