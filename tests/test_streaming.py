"""Streaming tests (SURVEY §2.11, M5): event-time windows, watermark
dedup, stateful LOCF, and foreachBatch keyed merge — each driven to
completion with Trigger.AvailableNow so they assert like batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.io import table
from fxblue_etl_spark.streaming import pipelines


def test_tumbling_windows_match_batch(spark, sf_dir):
    out = pipelines.streaming_tumbling_windows(spark, sf_dir)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 1e4)).cast("long").alias("total_e4"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n",
            "total_e4",
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_sliding_windows_cover_each_event_twice(spark, sf_dir):
    out = pipelines.streaming_sliding_windows(spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # 10-min windows sliding by 5 min: every event lands in exactly 2
    assert out.agg(F.sum("n")).first()[0] == 2 * n_events


def test_session_windows_respect_gap(spark, sf_dir):
    out = pipelines.streaming_session_windows(spark, sf_dir)
    per_user = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .count()
    )
    # session counts per user sum back to the user's event count
    got = out.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()
    want = {r.user_id: r["count"] for r in per_user.collect()}
    assert {r.user_id: r.n for r in got} == want


def test_dedup_watermark_removes_redelivery(spark, sf_dir):
    out = pipelines.streaming_dedup_watermark(spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_locf_stateful_carries_last_snapshot(spark, sf_dir):
    out = pipelines.streaming_locf_stateful(spark, sf_dir)
    # every non-signup row after a user's first signup carries a balance
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    first_snap = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("first_snap_id"))
    )
    joined = out.join(
        first_snap, out.account_id == first_snap.user_id, "left"
    ).filter(F.col("entry_idx") > F.col("first_snap_id"))
    assert joined.filter(F.col("account_balance").isNull()).count() == 0


def test_foreachbatch_merge_is_keyed_and_complete(spark, sf_dir):
    out = pipelines.streaming_csv_merge(spark, sf_dir)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_events
    assert out.select("ticket").distinct().count() == n_events


def test_streaming_csv_ingest_end_to_end(spark, tmp_path):
    """The reference's whole CSV job as a stream: file-source over an
    FXBlue CSV directory (exactly-once file tracking), per-batch
    normalize + K1 merge into a parquet target; a second export drop
    upserts instead of duplicating.

    Semantic delta vs the reference, on purpose: the file source
    identifies files by path, so an overwritten path is NOT re-read —
    each export drop must land as a new path (here: per-drop subdir),
    which is how object-store drops behave anyway."""
    from fxblue_etl_spark.operators.cleaning import GPT_PLACEHOLDER_COLS
    from fxblue_etl_spark.operators.merge import merge_upsert
    from fxblue_etl_spark.sources.fxblue_csv import normalize_trades, parse_fxblue_files

    csv_dir = tmp_path / "in"
    csv_dir.mkdir()
    target = str(tmp_path / "historical_trades")

    def write_csv(drop: str, account: str, rows: list[tuple]):
        d = csv_dir / drop
        d.mkdir(exist_ok=True)
        body = "\n".join(
            f"{t},EURUSD,Buy,1.1,1.2,2019-03-21 09:00:{s:02d},0.5,{p}"
            for t, s, p in rows
        )
        (d / f"{account}.csv").write_text(
            "FXBlue personal trade history\n"
            "Ticket,Symbol,Buy/sell,Open price,Close price,Open time,Lots,Profit\n"
            + body + "\n"
        )

    write_csv("drop1", "111", [(1, 1, 10.0), (2, 2, -5.0)])

    # file-source stream of whole files, parsed per batch like the
    # batch reader (wholetext keeps the title-row handling identical)
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .schema("value string")
        .option("recursiveFileLookup", "true")
        .load(str(csv_dir))
    )

    def ingest_batch(batch_df, epoch_id):
        from pyspark.sql import functions as F

        files = batch_df.select(
            F.input_file_name().alias("path"), F.col("value").alias("content")
        )
        new = normalize_trades(parse_fxblue_files(files))
        s = batch_df.sparkSession
        try:
            old = s.read.parquet(target)
            merged = merge_upsert(
                old, new, ["ticket"], preserve_cols=list(GPT_PLACEHOLDER_COLS)
            )
        except Exception:
            merged = new
        merged.localCheckpoint().write.mode("overwrite").parquet(target)

    def run_once():
        q = (
            stream.writeStream.foreachBatch(ingest_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(target).collect()
    assert {r.ticket for r in first} == {1, 2}

    # second drop: re-export of account 111 (new pnl for ticket 2) + new account
    write_csv("drop2", "111", [(1, 1, 10.0), (2, 2, 99.0)])
    write_csv("drop2", "222", [(7, 3, 1.5)])
    run_once()
    rows = {r.ticket: r for r in spark.read.parquet(target).collect()}
    assert set(rows) == {1, 2, 7}
    assert rows[2].pnl == 99.0  # upserted, not duplicated
    assert rows[7].account_id == "222"


def test_streaming_ohlc_matches_batch(spark, sf_dir):
    from fxblue_etl_spark.operators.temporal import ohlc_bars_hourly

    got = sorted(
        map(tuple, pipelines.streaming_ohlc_stateful(spark, sf_dir).collect())
    )
    want = sorted(map(tuple, ohlc_bars_hourly(spark, sf_dir).collect()))
    assert got == want


def test_streaming_ohlc_state_merges_across_batches(spark, sf_dir, tmp_path):
    """Drive the stateful OHLC through 4 micro-batches
    (maxFilesPerTrigger=1 over a 4-file staging of the fixture); the
    FINAL emission per bar — append mode re-emits a bar's running
    state each batch that touches it — must equal the batch resample,
    proving open/close/high/low/volume merge correctly across
    batches."""
    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.operators.temporal import ohlc_bars_hourly
    from fxblue_etl_spark.streaming.pipelines import ohlc_bars_from_stream

    staged = str(tmp_path / "events4")
    table(spark, sf_dir, "events").repartition(4).write.parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    out = ohlc_bars_from_stream(stream).collect()
    assert len(out) > len(
        {(r["hour"], r["event_type"]) for r in out}
    ), "multi-batch run must re-emit at least one bar"
    final = {}
    for r in out:
        key = (r["hour"], r["event_type"])
        if key not in final or r["n_events"] > final[key]["n_events"]:
            final[key] = r
    got = sorted(tuple(r) for r in final.values())
    want = sorted(map(tuple, ohlc_bars_hourly(spark, sf_dir).collect()))
    assert got == want


def test_scd2_merge_across_chronological_batches(spark, sf_dir, tmp_path):
    """Drive the CDC→SCD2 merge through 4 per-key-chronological
    micro-batches (the CDC source contract) and require the merged
    history to equal the one-batch build bit-for-bit — the boundary
    rule (continue vs open) is only exercised by a multi-batch run."""
    import os
    import shutil

    from pyspark.sql.window import Window

    from fxblue_etl_spark.streaming.pipelines import (
        scd2_from_stream,
        streaming_cdc_scd2,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.orderBy("ts", "event_id")
    sliced = ev.withColumn(
        "slice", ((F.row_number().over(w) - 1) * 4 / ev.count()).cast("int")
    )
    staged = tmp_path / "cdc_batches"
    staged.mkdir()
    for i in range(4):
        part_dir = tmp_path / f"slice_{i}"
        sliced.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.parquet(str(part_dir))
        (src,) = part_dir.glob("part-*.parquet")
        dst = staged / f"{i:02d}.parquet"
        shutil.copyfile(src, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    schema = spark.read.parquet(str(staged)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(staged))
    )
    got = sorted(map(tuple, scd2_from_stream(stream).collect()))
    want = sorted(map(tuple, streaming_cdc_scd2(spark, sf_dir).collect()))
    assert got == want
    # and the merge genuinely collapsed cross-batch continuations:
    # run count is below event count
    assert len(got) < ev.count()


def test_windowed_topk_ranks_are_dense_per_window(spark, sf_dir):
    rows = pipelines.streaming_windowed_topk(spark, sf_dir).collect()
    by_win = {}
    for r in rows:
        by_win.setdefault(r["win_start"], []).append(r)
    for win, rs in by_win.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= pipelines.STREAM_TOPK
        ns = [r["n"] for r in rs]
        assert ns == sorted(ns, reverse=True)


def test_checkpoint_recovery_resumes_without_reprocessing(spark, sf_dir, tmp_path):
    """Kill-and-restart contract of the file source + checkpoint: a
    second query started on the SAME checkpoint location must process
    only files that arrived after the first run — offset tracking, the
    property that makes foreachBatch merge sinks exactly-once."""
    import shutil

    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    staged = tmp_path / "inbox"
    staged.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_file(i, df):
        part_dir = tmp_path / f"s{i}"
        df.coalesce(1).write.parquet(str(part_dir))
        (src,) = part_dir.glob("part-*.parquet")
        shutil.copyfile(src, staged / f"{i:02d}.parquet")

    n_total = ev.count()
    half = ev.filter(F.col("event_id") % 2 == 0)
    rest = ev.filter(F.col("event_id") % 2 == 1)
    add_file(0, half)

    schema = spark.read.parquet(str(staged)).schema

    def run_once(acc):
        stream = spark.readStream.schema(schema).parquet(str(staged))

        def sink(batch_df, epoch_id):
            acc.append(batch_df.count())

        q = (
            stream.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    first: list[int] = []
    run_once(first)
    assert sum(first) == half.count()

    add_file(1, rest)
    second: list[int] = []
    run_once(second)
    # ONLY the new file's rows — nothing reprocessed
    assert sum(second) == rest.count()
    assert sum(first) + sum(second) == n_total


def test_streaming_lsh_dedup_agrees_with_batch_candidates(spark, sf_dir):
    """A doc is flagged by the streaming gate iff it appears as the
    LATER side of some batch LSH candidate pair — the two paths share
    one banding implementation, so the verdicts must coincide."""
    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.operators.dedup import lsh_candidate_pairs
    from fxblue_etl_spark.streaming.pipelines import streaming_lsh_dedup

    flags = {
        r["doc_id"]: r["is_dup"]
        for r in streaming_lsh_dedup(spark, sf_dir).collect()
    }
    later_side = {
        r["doc_b"]
        for r in lsh_candidate_pairs(table(spark, sf_dir, "documents"))
        .select("doc_b")
        .distinct()
        .collect()
    }
    assert {d for d, f in flags.items() if f == 1} == later_side
    # and the gate saw every bandable (≥3-token) document exactly once
    from pyspark.sql import functions as F

    from fxblue_etl_spark.operators.textops import ws_tokens

    n_bandable = (
        table(spark, sf_dir, "documents")
        .filter(F.size(ws_tokens(F.lower("text"))) >= 3)
        .count()
    )
    assert len(flags) == n_bandable
