"""Temporal operators: as-of join, bucketed range join, hypertable
rollup, Count-Min heavy hitters — semantics on literal frames plus
plan shape (one shuffle for as-of; hash join, not nested-loop, for
the range join)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.operators.temporal import (
    _cms_md5_buckets,
    asof_join,
    heavy_hitters_exact,
    range_join_buckets,
    time_bucket_rollup,
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


# ── as-of join semantics ────────────────────────────────────────────────

def test_asof_join_picks_latest_prior_quote(spark):
    trades = spark.createDataFrame(
        [(1, 10, "2024-01-01 00:05:00"), (2, 10, "2024-01-01 00:20:00")],
        "trade_id long, acct long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [
            (10, "2024-01-01 00:01:00", 1.0),
            (10, "2024-01-01 00:04:00", 2.0),  # latest before trade 1
            (10, "2024-01-01 00:10:00", 3.0),  # latest before trade 2
        ],
        "acct long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.trade_id: r.asof_value
        for r in asof_join(trades, quotes, key="acct").collect()
    }
    assert out == {1: 2.0, 2: 3.0}


def test_asof_join_no_prior_quote_is_null_and_equal_ts_inclusive(spark):
    trades = spark.createDataFrame(
        [(1, 7, "2024-01-01 00:00:30"), (2, 7, "2024-01-01 00:02:00")],
        "trade_id long, acct long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [(7, "2024-01-01 00:02:00", 9.0)],  # exactly at trade 2's ts
        "acct long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {r.trade_id: r for r in asof_join(trades, quotes, key="acct").collect()}
    assert rows[1].asof_value is None and rows[1].asof_ts is None
    assert rows[2].asof_value == 9.0  # ts >= quote ts is inclusive


def test_asof_join_null_quote_field_comes_from_matched_row(spark):
    """A matched quote row with a NULL field attaches that NULL — it
    must NOT backfill the field from an older quote (row-level match,
    like DuckDB ASOF and pandas merge_asof)."""
    trades = spark.createDataFrame(
        [(1, 5, "2024-01-01 00:10:00")],
        "trade_id long, acct long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    quotes = spark.createDataFrame(
        [(5, "2024-01-01 00:01:00", 1.0), (5, "2024-01-01 00:05:00", None)],
        "acct long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = asof_join(trades, quotes, key="acct").collect()[0]
    assert row.asof_ts.minute == 5  # matched the later quote row...
    assert row.asof_value is None  # ...and took its NULL, not 1.0


def test_asof_join_single_shuffle(spark):
    """The union+window formulation shuffles once, on the key — no
    range-join explosion, no extra exchange."""
    trades = spark.range(10).select(
        F.col("id").alias("acct"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"),
    )
    quotes = spark.range(10).select(
        F.col("id").alias("acct"),
        F.timestamp_seconds(F.col("id") * 30).alias("ts"),
        F.rand(7).alias("value"),
    )
    plan = _executed_plan(asof_join(trades, quotes, key="acct"))
    # tree lines render as "Exchange (n)"; detail headers as "(n) Exchange"
    assert plan.count("Exchange (") == 1


# ── range join ──────────────────────────────────────────────────────────

def test_range_join_boundaries_half_open(spark):
    facts = spark.createDataFrame(
        [(1, 899.99), (2, 900.0), (3, 925.99), (4, 926.0), (5, 1000.01)],
        "id long, price double",
    )
    bands = spark.createDataFrame(
        [("a", 900.0, 926.0), ("b", 926.0, 1000.01)],
        "band string, lo double, hi double",
    )
    out = {
        r.id: r.band
        for r in range_join_buckets(facts, bands, "price", bucket_width=10.0).collect()
    }
    # 899.99 below all bands; 1000.01 == hi of b is excluded (half-open)
    assert out == {2: "a", 3: "a", 4: "b"}


def test_range_join_interval_spanning_many_buckets(spark):
    facts = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, v double")
    bands = spark.createDataFrame([("wide", 5.0, 77.0)], "band string, lo double, hi double")
    got = range_join_buckets(facts, bands, "v", bucket_width=10.0)
    assert got.count() == 72  # [5, 77) over integers


def test_range_join_is_hash_join_not_nested_loop(spark):
    facts = spark.range(1000).select(F.col("id"), (F.col("id") % 100).cast("double").alias("v"))
    bands = spark.createDataFrame(
        [("lo", 0.0, 50.0), ("hi", 50.0, 100.0)], "band string, lo double, hi double"
    )
    plan = _executed_plan(range_join_buckets(facts, bands, "v", bucket_width=10.0))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ── hypertable rollup ───────────────────────────────────────────────────

def test_time_bucket_daily_level_matches_direct_aggregate(spark, sf_dir):
    """The coarse level built FROM partials must equal aggregating the
    raw rows directly — the continuous-aggregate correctness property."""
    out = time_bucket_rollup(spark, sf_dir)
    daily = out.filter(F.col("level") == "1d").select(
        "bucket", "event_type", "n_events"
    )
    from fxblue_etl_spark.io import table

    e = table(spark, sf_dir, "events")
    direct = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd HH:mm").alias("bucket"),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    assert daily.exceptAll(direct).count() == 0
    assert direct.exceptAll(daily).count() == 0


# ── heavy hitters ───────────────────────────────────────────────────────

def test_cms_counter_table_bounded(spark, sf_dir):
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cms = (
        l.select(F.explode(_cms_md5_buckets(F.col("l_partkey"))).alias("db"))
        .groupBy(F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count("*").alias("cnt"))
    )
    assert cms.count() <= 4 * 8192
    # total mass per hash row == number of input rows
    per_row = {r.d: r.total for r in cms.groupBy("d").agg(F.sum("cnt").alias("total")).collect()}
    n = l.count()
    assert all(v == n for v in per_row.values())


def test_heavy_hitters_exact_descending(spark, sf_dir):
    counts = [r.n_items for r in heavy_hitters_exact(spark, sf_dir).collect()]
    assert counts == sorted(counts, reverse=True)


def test_ohlc_bars_invariants(spark, sf_dir):
    from fxblue_etl_spark.operators.temporal import ohlc_bars_hourly

    rows = ohlc_bars_hourly(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["low_e4"] <= r["open_e4"] <= r["high_e4"]
        assert r["low_e4"] <= r["close_e4"] <= r["high_e4"]
        assert r["n_events"] >= 1
        if r["n_events"] == 1:
            assert r["open_e4"] == r["close_e4"] == r["high_e4"] == r["low_e4"]


def test_transition_matrix_rows_sum_to_one(spark, sf_dir):
    from collections import defaultdict

    from fxblue_etl_spark.operators.temporal import event_transition_matrix

    rows = event_transition_matrix(spark, sf_dir).collect()
    assert rows
    out = defaultdict(int)
    for r in rows:
        assert 0 < r["n"] <= r["n_from"]
        assert r["prob_ppm"] == (1_000_000 * r["n"]) // r["n_from"]
        out[r["from_type"]] += r["n"]
    for ft, tot in out.items():
        n_from = next(r["n_from"] for r in rows if r["from_type"] == ft)
        assert tot == n_from, ft


def test_daily_anomaly_days_mad_semantics(spark, sf_dir):
    from fxblue_etl_spark.operators.temporal import daily_anomaly_days

    rows = daily_anomaly_days(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["mad_e4"] >= 0
        expected = int(abs(r["total_e4"] - r["med_e4"]) > 3 * r["mad_e4"])
        assert r["is_anomaly"] == expected
    # at least half of each type's days are within 1 MAD of the median
    # (definition of MAD), so anomalies are a strict minority
    n_anom = sum(r["is_anomaly"] for r in rows)
    assert n_anom < len(rows) / 2


def test_local_day_rollup_dst_spring_forward(spark):
    """2024-03-10 America/New_York jumps 02:00→03:00: one hourly event
    per UTC hour covering the whole local day must land on 23 distinct
    local hours (hour 2 does not exist), and hour 2 never appears."""
    from datetime import datetime, timedelta

    from fxblue_etl_spark.operators.temporal import local_day_rollup

    # local Mar-10 00:00 EST == 05:00 UTC; local Mar-10 23:00 EDT == Mar-11 03:00 UTC
    start = datetime(2024, 3, 10, 5, 0, 0)
    rows = [(start + timedelta(hours=h), 1.0) for h in range(23)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["local_day"]: r for r in local_day_rollup(df).collect()}
    assert set(out) == {"2024-03-10"}
    r = out["2024-03-10"]
    assert r["n_events"] == 23
    assert r["n_local_hours"] == 23
    assert r["value_sum_e4"] == 23 * 10_000
    # and the skipped hour is really absent
    from pyspark.sql import functions as F

    hours = {
        x["h"]
        for x in df.select(
            F.hour(F.from_utc_timestamp("ts", "America/New_York")).alias("h")
        ).collect()
    }
    assert 2 not in hours and len(hours) == 23


def test_portable_cms_one_sided_error(spark, sf_dir):
    """The portable Count-Min must over-estimate only (estimate ≥
    exact) and stay within the e·N/w additive bound."""
    import math

    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.operators.temporal import (
        _CMS_WIDTH,
        portable_countmin_topk,
    )

    rows = portable_countmin_topk(spark, sf_dir).collect()
    assert len(rows) == 20
    n_total = table(spark, sf_dir, "lineitem").count()
    bound = math.e * n_total / _CMS_WIDTH
    for r in rows:
        assert r["cms_estimate"] >= r["exact_count"]
        assert r["cms_estimate"] - r["exact_count"] <= 4 * bound
