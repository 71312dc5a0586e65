"""Custom PySpark DataSource for FXBlue RSS feeds (SURVEY §2.1 S5).

The reference fetches one RSS feed per account in a sequential driver
loop (`RSS PARSER/gcp_rss.py:49,83`). The idiomatic Spark 4 form is a
Python DataSource: the account registry defines the partitions, each
task fetches and parses its accounts' feeds, and the same source
doubles as a streaming reader that turns "re-run the job to re-poll"
into an offset-tracked micro-batch stream.

    spark.dataSource.register(RssFeedDataSource)
    spark.read.format("fxblue_rss")
         .option("accounts_json", json.dumps([{"account_id": ..,
                                               "rss_url": ..}, ...]))
         .load()
    spark.readStream.format("fxblue_rss").option(...).load()

Options:

* ``registry_path`` — parquet file/directory with columns
  ``account_id`` (+ optional ``rss_url``). This is the scale path:
  the planner reads only parquet FOOTERS on the driver and emits one
  input partition per row group, so driver memory is O(row groups)
  while each task reads its own slice of the registry executor-side.
  A billion-account registry plans in milliseconds.
* ``accounts_json`` — JSON list of ``{account_id, rss_url}`` inline;
  convenience for tiny registries and tests only.
* ``mode`` — ``"fake"`` (default): deterministic synthetic feed, a
  pure function of (account_id, entry_idx) so a SQL oracle can
  reproduce it bit-for-bit; ``"network"``: fetch via ``feedparser``
  (absent in this container → NotImplementedError naming it).
* ``chunk_size`` — accounts per input partition for the inline
  registry (default 64): one task per *chunk of feeds*, not per
  feed, so task-launch overhead doesn't dominate at small registries
  while a large registry still fans out across the cluster.

Streaming: each micro-batch is one poll round; the offset is the poll
index, and poll *p* yields every account's entry ``p`` (accounts with
shorter feeds simply stop contributing) — the shape of incremental
feed consumption with exactly-once offsets, no external state.
"""

from __future__ import annotations

import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from .rss_feed import ENTRY_COLS, ENTRY_FIELDS

RSS_TS = "Thu 21 Mar 2019 09:00:11"
EPOCH_TS = "Thu 1 Jan 1970 00:00:00"


def fake_entry_count(aid: int) -> int:
    return 3 + aid % 5


def fake_entry(account_id: str, idx: int) -> tuple:
    """Deterministic feed entry — a pure function of (account, idx);
    idx % 3 == 0 rows are account snapshots, the rest positions."""
    aid = int(account_id)
    if idx % 3 == 0:
        vals = {
            "account_balance": str(1000 + aid * 10 + idx),
            "account_equity": str(990 + aid * 10 + idx),
            "account_floatingprofit": str(aid % 50),
            "account_closedprofit": str(aid % 40),
            "account_freemargin": str(aid % 30),
        }
    else:
        vals = {
            "position_ticket": str(aid * 100 + idx),
            "position_action": "buy" if idx % 2 == 1 else "sell",
            "position_lots": str(idx),
            "position_symbol": "EURUSD",
            "position_openprice": str(100 + idx),
            "position_closeprice": str(101 + idx),
            "position_opentime": RSS_TS,
            "position_closetime": EPOCH_TS if idx % 2 == 0 else RSS_TS,
            "position_profit": str(idx * 7 - 10),
            "position_swap": str(idx % 3),
            "position_commission": str(idx % 2),
            "position_totalprofit": str(idx * 7 - 8),
            "position_tp": "0" if idx % 2 == 0 else str(110 + idx),
            "position_sl": "0",
            "position_magicnumber": str(aid % 7),
        }
    vals["account_id"] = account_id
    vals["entry_idx"] = idx
    return tuple(vals.get(f) for f in ENTRY_FIELDS)


def _network_entries(rss_url: str) -> list[dict]:
    try:
        import feedparser
    except ImportError as e:
        raise NotImplementedError(
            "mode=network requires the 'feedparser' package; use "
            "mode=fake or install it at deploy time"
        ) from e
    return [dict(e) for e in feedparser.parse(rss_url).entries]


class AccountChunk(InputPartition):
    """Inline registry slice: the account dicts travel in the task."""

    def __init__(self, accounts: list[dict]):
        self.accounts = accounts


class RegistrySlice(InputPartition):
    """Path-backed registry slice: only (file, row_group) travels in
    the task; the account rows are read executor-side."""

    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


def _registry_files(path: str) -> list[str]:
    import os

    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return [path]


def _registry_slices(path: str) -> list[RegistrySlice]:
    """One input partition per parquet row group — footer-only planning."""
    import pyarrow.parquet as pq

    slices = []
    for f in _registry_files(path):
        for rg in range(pq.ParquetFile(f).metadata.num_row_groups):
            slices.append(RegistrySlice(f, rg))
    return slices


def _slice_accounts(part: RegistrySlice):
    """Executor-side: read ONE row group of the registry parquet."""
    import pyarrow.parquet as pq

    tbl = pq.ParquetFile(part.path).read_row_group(part.row_group)
    cols = tbl.column_names
    ids = tbl.column("account_id").to_pylist()
    urls = tbl.column("rss_url").to_pylist() if "rss_url" in cols else [None] * len(ids)
    return [{"account_id": i, "rss_url": u} for i, u in zip(ids, urls)]


def _partitions(options: dict) -> list[InputPartition]:
    path = options.get("registry_path")
    if path:
        return _registry_slices(path) or [AccountChunk([])]
    accounts = json.loads(options.get("accounts_json", "[]"))
    size = int(options.get("chunk_size", "64"))
    return [
        AccountChunk(accounts[i : i + size]) for i in range(0, len(accounts), size)
    ] or [AccountChunk([])]


def _part_accounts(part: InputPartition) -> list[dict]:
    if isinstance(part, RegistrySlice):
        return _slice_accounts(part)
    return part.accounts


def _read_accounts(accounts: list[dict], mode: str):
    for acct in accounts:
        aid = str(acct["account_id"])
        if mode == "fake":
            for idx in range(fake_entry_count(int(aid))):
                yield fake_entry(aid, idx)
        else:
            for idx, entry in enumerate(_network_entries(acct["rss_url"])):
                yield tuple(
                    aid if f == "account_id" else idx if f == "entry_idx" else entry.get(f)
                    for f in ENTRY_FIELDS
                )


class RssFeedReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self) -> list[InputPartition]:
        return _partitions(self.options)

    def read(self, partition: InputPartition):
        yield from _read_accounts(
            _part_accounts(partition), self.options.get("mode", "fake")
        )


#: ``fake_entry_count`` is 3 + aid%5 — never more than this many polls.
MAX_FAKE_POLLS = 7


class RssFeedStreamReader(DataSourceStreamReader):
    """Poll-per-micro-batch: offset = poll index; poll *p* emits every
    account's entry *p* (shorter feeds stop contributing). State is a
    single int — replayable, so the source is exactly-once under
    checkpointing.

    With a path-backed registry the latest offset is the static upper
    bound of the fake feed length: the driver never reads account
    rows, and polls past a feed's end yield nothing. Each micro-batch
    fans out as polls × registry row groups."""

    def __init__(self, options: dict):
        self.options = options
        self.path = options.get("registry_path")
        if self.path:
            self.accounts = None
            self.max_polls = MAX_FAKE_POLLS
        else:
            self.accounts = json.loads(options.get("accounts_json", "[]"))
            self.max_polls = max(
                (fake_entry_count(int(a["account_id"])) for a in self.accounts),
                default=0,
            )

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def latestOffset(self) -> dict:
        return {"poll": self.max_polls}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        polls = list(range(start["poll"], end["poll"]))
        if self.path:
            parts = [
                PollPartition(p, None, s)
                for p in polls
                for s in _registry_slices(self.path)
            ]
        else:
            parts = [PollPartition(p, self.accounts, None) for p in polls]
        return parts or [PollPartition(-1, [], None)]

    def read(self, partition: "PollPartition"):
        if partition.poll < 0:
            return
        accounts = (
            _slice_accounts(partition.slice_)
            if partition.slice_ is not None
            else partition.accounts
        )
        for acct in accounts:
            aid = str(acct["account_id"])
            if partition.poll < fake_entry_count(int(aid)):
                yield fake_entry(aid, partition.poll)

    def commit(self, end: dict) -> None:
        pass


class PollPartition(InputPartition):
    def __init__(self, poll: int, accounts, slice_: RegistrySlice | None):
        self.poll = poll
        self.accounts = accounts
        self.slice_ = slice_


class RssFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fxblue_rss"

    def schema(self) -> str:
        return ENTRY_COLS

    def reader(self, schema: StructType) -> RssFeedReader:
        return RssFeedReader(self.options)

    def streamReader(self, schema: StructType) -> RssFeedStreamReader:
        return RssFeedStreamReader(self.options)


# ── oracle-checked demonstration query ───────────────────────────────────

def _registry_parquet(spark, sf_dir: str) -> str:
    """Materialize the demo registry (distinct event users) as parquet
    via a Spark write — executor-side end to end, no driver collect.
    At scale the registry already lives in storage and this step
    disappears; only the parquet path crosses the driver.  Staged once
    per fixture (``io.stage_fixture``)."""
    from pyspark.sql import functions as F

    from ..io import stage_fixture, table

    return stage_fixture(
        sf_dir,
        "registry_parquet",
        lambda tmp: table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("account_id"))
        .distinct()
        .select(
            "account_id",
            F.concat(F.lit("https://fxblue/feed/u"), "account_id").alias("rss_url"),
        )
        .write.mode("overwrite")
        .parquet(tmp),
    )


def rss_datasource_scan(spark, sf_dir: str):
    """Batch scan through the custom DataSource: registry = distinct
    event users via a path-backed parquet (partitions planned from
    its row groups), fake-feed mode, full 22-column entry output."""
    spark.dataSource.register(RssFeedDataSource)
    return (
        spark.read.format("fxblue_rss")
        .option("registry_path", _registry_parquet(spark, sf_dir))
        .load()
    )


RSS_DATASOURCE_ORACLE = f"""
WITH accounts AS (SELECT DISTINCT user_id AS aid FROM events),
idx AS (
  SELECT aid, CAST(i AS BIGINT) AS idx
  FROM accounts CROSS JOIN range(0, 8) t(i)
  WHERE i < 3 + aid % 5)
SELECT CAST(aid AS VARCHAR) AS account_id,
       idx AS entry_idx,
       CASE WHEN idx % 3 = 0 THEN CAST(1000 + aid * 10 + idx AS VARCHAR) END AS account_balance,
       CASE WHEN idx % 3 = 0 THEN CAST(990 + aid * 10 + idx AS VARCHAR) END AS account_equity,
       CASE WHEN idx % 3 = 0 THEN CAST(aid % 50 AS VARCHAR) END AS account_floatingprofit,
       CASE WHEN idx % 3 = 0 THEN CAST(aid % 40 AS VARCHAR) END AS account_closedprofit,
       CASE WHEN idx % 3 = 0 THEN CAST(aid % 30 AS VARCHAR) END AS account_freemargin,
       CASE WHEN idx % 3 != 0 THEN CAST(aid * 100 + idx AS VARCHAR) END AS position_ticket,
       CASE WHEN idx % 3 != 0 THEN CASE WHEN idx % 2 = 1 THEN 'buy' ELSE 'sell' END END AS position_action,
       CASE WHEN idx % 3 != 0 THEN CAST(idx AS VARCHAR) END AS position_lots,
       CASE WHEN idx % 3 != 0 THEN 'EURUSD' END AS position_symbol,
       CASE WHEN idx % 3 != 0 THEN CAST(100 + idx AS VARCHAR) END AS position_openprice,
       CASE WHEN idx % 3 != 0 THEN CAST(101 + idx AS VARCHAR) END AS position_closeprice,
       CASE WHEN idx % 3 != 0 THEN '{RSS_TS}' END AS position_opentime,
       CASE WHEN idx % 3 != 0 THEN
            CASE WHEN idx % 2 = 0 THEN '{EPOCH_TS}' ELSE '{RSS_TS}' END END AS position_closetime,
       CASE WHEN idx % 3 != 0 THEN CAST(idx * 7 - 10 AS VARCHAR) END AS position_profit,
       CASE WHEN idx % 3 != 0 THEN CAST(idx % 3 AS VARCHAR) END AS position_swap,
       CASE WHEN idx % 3 != 0 THEN CAST(idx % 2 AS VARCHAR) END AS position_commission,
       CASE WHEN idx % 3 != 0 THEN CAST(idx * 7 - 8 AS VARCHAR) END AS position_totalprofit,
       CASE WHEN idx % 3 != 0 THEN
            CASE WHEN idx % 2 = 0 THEN '0' ELSE CAST(110 + idx AS VARCHAR) END END AS position_tp,
       CASE WHEN idx % 3 != 0 THEN '0' END AS position_sl,
       CASE WHEN idx % 3 != 0 THEN CAST(aid % 7 AS VARCHAR) END AS position_magicnumber
FROM idx
"""


def rss_datasource_stream(spark, sf_dir: str):
    """The same path-backed registry consumed through the *streaming*
    reader: one poll per micro-batch, offset-tracked, each batch
    fanned out over the registry's row groups; driven to completion
    into a memory sink. Result must equal the batch scan."""
    from ..streaming.pipelines import run_to_table

    spark.dataSource.register(RssFeedDataSource)
    s = (
        spark.readStream.format("fxblue_rss")
        .option("registry_path", _registry_parquet(spark, sf_dir))
        .load()
    )
    return run_to_table(s, "append")


QUERIES = {
    "rss_datasource_scan": rss_datasource_scan,
    "rss_datasource_stream": rss_datasource_stream,
}
ORACLES = {
    "rss_datasource_scan": RSS_DATASOURCE_ORACLE,
    "rss_datasource_stream": RSS_DATASOURCE_ORACLE,
}
