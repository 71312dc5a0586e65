"""RSS feed source + pipeline (SURVEY §2.1 S4-S5, §3.2, M3).

The reference's RSS job (`RSS PARSER/gcp_rss.py`) loads an account
registry (Excel on GCS), then per account fetches an FXBlue RSS feed
and walks its entries in order: "account status" entries update a set
of carried variables (balance/equity/…); "position" entries become
trade rows stamped with the carried snapshot (W1 LOCF) and the
registry metadata (J1).

Spark restatement, one lazy plan:

    accounts → [fetch: mapInPandas, one HTTP fetch per account,
                parallel across executors — vs the reference's
                sequential loop at gcp_rss.py:49]
             → entries (account_id, entry_idx, snapshot_*/position_*)
             → cast snapshot fields, LOCF over (account, entry_idx)
             → filter position rows (F2)
             → T3/T4/T5 casts on position fields
             → broadcast-join registry (J1)
             → 31-column rss_trades batch  →  merge_upsert K2

The fetch is I/O code behind an injectable interface: tests and the
oracle query inject a deterministic entries DataFrame instead of HTTP
(FIXTURES.md A3). The network fetcher requires `feedparser`, absent
in this environment — it raises NotImplementedError with the exact
dependency, while everything downstream of the interface is real and
tested.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..operators import cleaning as C
from ..operators.windows import locf_sql

#: rss_trades sink columns (`RSS PARSER/gcp_rss.py:116-128`)
RSS_TRADES_COLS = [
    "account_id", "account_url", "rss_url", "trade_win", "total_return",
    "trades_per_day", "account_balance", "account_equity",
    "account_floating_profit", "account_closed_profit",
    "account_free_margin", "ticket", "action", "lots", "symbol",
    "open_price", "close_price", "open_time", "close_time", "profit",
    "swap", "commission", "total_profit", "take_profit", "stop_loss",
    "magic_number", "gpt_recommendation_issued",
    "gpt_recommendation_content", "gpt_recommendation_accuracy",
    "gpt_suggestion_score", "trade_deviation_reasoning",
]

#: enrichment columns of the rss_trades sink, NULL on every insert
_GPT_RSS_COLS = (
    "gpt_recommendation_issued",
    "gpt_recommendation_content",
    "gpt_recommendation_accuracy",
    "gpt_suggestion_score",
    "trade_deviation_reasoning",
)

#: feed-entry columns as the fetch yields them (FIXTURES.md A3)
ENTRY_COLS = (
    "account_id string, entry_idx long, "
    "account_balance string, account_equity string, "
    "account_floatingprofit string, account_closedprofit string, "
    "account_freemargin string, "
    "position_ticket string, position_action string, position_lots string, "
    "position_symbol string, position_openprice string, position_closeprice string, "
    "position_opentime string, position_closetime string, position_profit string, "
    "position_swap string, position_commission string, position_totalprofit string, "
    "position_tp string, position_sl string, position_magicnumber string"
)
#: ENTRY_COLS' field names, in schema order
ENTRY_FIELDS = [s.strip().split(" ")[0] for s in ENTRY_COLS.split(",")]


def fetch_feed_entries(
    accounts: DataFrame,
    fetcher: Callable[[str], list[dict]] | None = None,
) -> DataFrame:
    """S5: one feed fetch per account row, parallel via mapInPandas.

    ``fetcher(rss_url) -> list[entry-dict]`` is injectable; the
    default needs the `feedparser` package (network path).
    """
    if fetcher is None:
        try:
            import feedparser  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "network RSS fetch requires the 'feedparser' package; "
                "inject a fetcher or supply an entries DataFrame"
            ) from e

        def fetcher(url: str) -> list[dict]:
            import feedparser

            feed = feedparser.parse(url)
            return [dict(e) for e in feed.entries]

    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for idx, entry in enumerate(fetcher(row["rss_url"])):
                    rec = {k: entry.get(k) for k in ENTRY_FIELDS}
                    rec["account_id"] = row["account_id"]
                    rec["entry_idx"] = idx
                    out.append(rec)
            yield pd.DataFrame(out, columns=ENTRY_FIELDS)

    return accounts.mapInPandas(run, ENTRY_COLS)


def clean_registry(accounts_raw: DataFrame) -> DataFrame:
    """S4/T4: registry metrics → ratios (`gcp_rss.py:50-63`). Input
    columns: account_id, account_url, rss_url, trade_win,
    total_return, trades_per_day (strings)."""
    return accounts_raw.selectExpr(
        "account_id",
        "account_url",
        "rss_url",
        *[f"{C.pct_to_ratio_sql(c)} AS {c}" for c in ("trade_win", "total_return", "trades_per_day")],
    )


def account_metadata(accounts_raw: DataFrame) -> DataFrame:
    """K3 batch: the 8-column account_metadata rows
    (`gcp_rss.py:66-80`) — strategy_inferred/gpt_comments NULL on
    insert, preserved on conflict by merge_upsert."""
    return clean_registry(accounts_raw).select(
        "*",
        F.lit(None).cast("string").alias("strategy_inferred"),
        F.lit(None).cast("string").alias("gpt_comments"),
    )


def rss_trades(entries: DataFrame, accounts_raw: DataFrame) -> DataFrame:
    """Feed entries + registry → 31-column rss_trades batch (§3.2)."""
    snap_map = {
        "account_balance": "account_balance",
        "account_equity": "account_equity",
        "account_floatingprofit": "account_floating_profit",
        "account_closedprofit": "account_closed_profit",
        "account_freemargin": "account_free_margin",
    }
    # one projection for the casts and the LOCF windows (W1), one for the
    # position casts, one for the sink columns; all SQL text, see
    # cleaning's SQL-text rules for why
    filled = entries.withColumns(
        {
            dst: F.expr(locf_sql(C.coerce_numeric_sql(src), "account_id", "entry_idx"))
            for src, dst in snap_map.items()
        }
    )
    pos = filled.where("position_ticket IS NOT NULL")  # F2

    num = lambda c: C.coerce_numeric_sql(C.null_if_sentinel_sql(c))  # ''→NULL→float
    iso = lambda t: f'date_format({C.parse_rss_timestamp_sql(t)}, "{C.ISO_FMT}")'
    trades = pos.selectExpr(
        "account_id",
        *snap_map.values(),
        "try_cast(position_ticket AS long) AS ticket",
        "position_action AS action",
        f"{num('position_lots')} AS lots",
        "position_symbol AS symbol",
        f"{num('position_openprice')} AS open_price",
        f"{num('position_closeprice')} AS close_price",
        f"{iso('position_opentime')} AS open_time",
        f"{iso(C.null_if_sentinel_sql('position_closetime', C.EPOCH_SENTINEL))} AS close_time",
        f"{num('position_profit')} AS profit",
        f"{num('position_swap')} AS swap",
        f"{num('position_commission')} AS commission",
        f"{num('position_totalprofit')} AS total_profit",
        f"{C.coerce_numeric_sql(C.null_if_sentinel_sql('position_tp', '0'))} AS take_profit",
        f"{C.coerce_numeric_sql(C.null_if_sentinel_sql('position_sl', '0'))} AS stop_loss",
        f"try_cast({C.null_if_sentinel_sql('position_magicnumber')} AS long) AS magic_number",
    )
    registry = clean_registry(accounts_raw)
    joined = trades.join(F.broadcast(registry), "account_id", "left")  # J1
    return joined.selectExpr(
        *[f"CAST(NULL AS string) AS {c}" if c in _GPT_RSS_COLS else c for c in RSS_TRADES_COLS]
    )


# ── oracle-checked demonstration: deterministic feed from events ─────────

def _synthetic_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    uid = F.col("user_id")
    return e.select(uid).distinct().select(
        uid.cast("string").alias("account_id"),
        F.concat(F.lit("https://fxblue/u"), uid).alias("account_url"),
        F.concat(F.lit("https://fxblue/feed/u"), uid).alias("rss_url"),
        F.when(uid % 3 == 0, F.lit("55%"))
        .when(uid % 3 == 1, F.lit("-"))
        .otherwise(F.lit("0.5"))
        .alias("trade_win"),
        F.lit("12.5%").alias("total_return"),
        (uid % 10).cast("string").alias("trades_per_day"),
    )


_SYN_ACCOUNTS_SQL = """
syn_accounts AS (
  SELECT CAST(user_id AS VARCHAR) AS account_id,
         'https://fxblue/u' || CAST(user_id AS VARCHAR) AS account_url,
         'https://fxblue/feed/u' || CAST(user_id AS VARCHAR) AS rss_url,
         CASE WHEN user_id % 3 = 0 THEN '55%'
              WHEN user_id % 3 = 1 THEN '-'
              ELSE '0.5' END AS trade_win,
         '12.5%' AS total_return,
         CAST(user_id % 10 AS VARCHAR) AS trades_per_day
  FROM (SELECT DISTINCT user_id FROM events))
"""


def _synthetic_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed entries from events: 'signup' rows are account snapshots,
    everything else a position record (FIXTURES.md A3 shape)."""
    e = table(spark, sf_dir, "events")
    k = F.col("event_id")
    is_snap = F.col("event_type") == "signup"
    s = lambda expr: expr.cast("string")
    return e.select(
        F.col("user_id").cast("string").alias("account_id"),
        k.alias("entry_idx"),
        F.when(is_snap, s(k % 1000)).alias("account_balance"),
        F.when(is_snap, s(k % 900)).alias("account_equity"),
        F.when(is_snap, s(k % 800)).alias("account_floatingprofit"),
        F.when(is_snap, s(k % 700)).alias("account_closedprofit"),
        F.when(is_snap, s(k % 600)).alias("account_freemargin"),
        F.when(~is_snap, s(k)).alias("position_ticket"),
        F.when(~is_snap, F.col("event_type")).alias("position_action"),
        F.when(~is_snap, F.when(k % 7 == 0, F.lit("")).otherwise(s(k % 20))).alias("position_lots"),
        F.when(~is_snap, F.lit("EURUSD")).alias("position_symbol"),
        F.when(~is_snap, s(k % 300)).alias("position_openprice"),
        F.when(~is_snap, F.when(k % 11 == 0, F.lit("")).otherwise(s(k % 301))).alias("position_closeprice"),
        F.when(~is_snap, F.date_format("ts", C.RSS_FMT)).alias("position_opentime"),
        F.when(~is_snap, F.when(k % 3 == 0, F.lit(C.EPOCH_SENTINEL)).otherwise(F.date_format("ts", C.RSS_FMT))).alias("position_closetime"),
        F.when(~is_snap, s(k % 500 - 250)).alias("position_profit"),
        F.when(~is_snap, F.when(k % 13 == 0, F.lit("")).otherwise(s(k % 7))).alias("position_swap"),
        F.when(~is_snap, s(k % 5)).alias("position_commission"),
        F.when(~is_snap, s(k % 600 - 300)).alias("position_totalprofit"),
        F.when(~is_snap, F.when(k % 2 == 0, F.lit("0")).otherwise(s(k % 400))).alias("position_tp"),
        F.when(~is_snap, F.when(k % 5 == 0, F.lit("0")).otherwise(s(k % 450))).alias("position_sl"),
        F.when(~is_snap, F.when(k % 17 == 0, F.lit("")).otherwise(s(k % 99))).alias("position_magicnumber"),
    )


_SYN_ENTRIES_SQL = f"""
syn_entries AS (
  SELECT CAST(user_id AS VARCHAR) AS account_id,
         event_id AS entry_idx,
         event_type = 'signup' AS is_snap,
         CASE WHEN event_type = 'signup' THEN CAST(event_id % 1000 AS VARCHAR) END AS account_balance,
         CASE WHEN event_type = 'signup' THEN CAST(event_id % 900 AS VARCHAR) END AS account_equity,
         CASE WHEN event_type = 'signup' THEN CAST(event_id % 800 AS VARCHAR) END AS account_floatingprofit,
         CASE WHEN event_type = 'signup' THEN CAST(event_id % 700 AS VARCHAR) END AS account_closedprofit,
         CASE WHEN event_type = 'signup' THEN CAST(event_id % 600 AS VARCHAR) END AS account_freemargin,
         CASE WHEN event_type != 'signup' THEN CAST(event_id AS VARCHAR) END AS position_ticket,
         CASE WHEN event_type != 'signup' THEN event_type END AS position_action,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 7 = 0 THEN '' ELSE CAST(event_id % 20 AS VARCHAR) END END AS position_lots,
         CASE WHEN event_type != 'signup' THEN 'EURUSD' END AS position_symbol,
         CASE WHEN event_type != 'signup' THEN CAST(event_id % 300 AS VARCHAR) END AS position_openprice,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 11 = 0 THEN '' ELSE CAST(event_id % 301 AS VARCHAR) END END AS position_closeprice,
         CASE WHEN event_type != 'signup' THEN strftime(ts, '%a %-d %b %Y %H:%M:%S') END AS position_opentime,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 3 = 0 THEN '{C.EPOCH_SENTINEL}'
                   ELSE strftime(ts, '%a %-d %b %Y %H:%M:%S') END END AS position_closetime,
         CASE WHEN event_type != 'signup' THEN CAST(event_id % 500 - 250 AS VARCHAR) END AS position_profit,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 13 = 0 THEN '' ELSE CAST(event_id % 7 AS VARCHAR) END END AS position_swap,
         CASE WHEN event_type != 'signup' THEN CAST(event_id % 5 AS VARCHAR) END AS position_commission,
         CASE WHEN event_type != 'signup' THEN CAST(event_id % 600 - 300 AS VARCHAR) END AS position_totalprofit,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 2 = 0 THEN '0' ELSE CAST(event_id % 400 AS VARCHAR) END END AS position_tp,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 5 = 0 THEN '0' ELSE CAST(event_id % 450 AS VARCHAR) END END AS position_sl,
         CASE WHEN event_type != 'signup' THEN
              CASE WHEN event_id % 17 = 0 THEN '' ELSE CAST(event_id % 99 AS VARCHAR) END END AS position_magicnumber
  FROM events)
"""


def s5_rss_trades_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full RSS pipeline on a deterministic injected feed: snapshot
    LOCF → position filter → T3/T4/T5 casts → J1 registry join."""
    accounts = _synthetic_accounts(spark, sf_dir)
    entries = _synthetic_entries(spark, sf_dir)
    return rss_trades(entries, accounts)


S5_ORACLE = f"""
WITH {_SYN_ACCOUNTS_SQL.strip()},
{_SYN_ENTRIES_SQL.strip()},
filled AS (
  SELECT *,
         last_value(TRY_CAST(account_balance AS DOUBLE) IGNORE NULLS) OVER w AS f_balance,
         last_value(TRY_CAST(account_equity AS DOUBLE) IGNORE NULLS) OVER w AS f_equity,
         last_value(TRY_CAST(account_floatingprofit AS DOUBLE) IGNORE NULLS) OVER w AS f_floating,
         last_value(TRY_CAST(account_closedprofit AS DOUBLE) IGNORE NULLS) OVER w AS f_closed,
         last_value(TRY_CAST(account_freemargin AS DOUBLE) IGNORE NULLS) OVER w AS f_free
  FROM syn_entries
  WINDOW w AS (PARTITION BY account_id ORDER BY entry_idx ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
registry AS (
  SELECT account_id, account_url, rss_url,
         CASE WHEN trade_win IS NULL OR trade_win = '-' THEN NULL
              WHEN trade_win LIKE '%\\%%' ESCAPE '\\'
                THEN TRY_CAST(replace(trade_win, '%', '') AS DOUBLE) / 100.0
              ELSE TRY_CAST(trade_win AS DOUBLE) END AS trade_win,
         TRY_CAST(replace(total_return, '%', '') AS DOUBLE) / 100.0 AS total_return,
         TRY_CAST(trades_per_day AS DOUBLE) AS trades_per_day
  FROM syn_accounts)
SELECT f.account_id, r.account_url, r.rss_url, r.trade_win, r.total_return,
       r.trades_per_day,
       f.f_balance AS account_balance,
       f.f_equity AS account_equity,
       f.f_floating AS account_floating_profit,
       f.f_closed AS account_closed_profit,
       f.f_free AS account_free_margin,
       TRY_CAST(f.position_ticket AS BIGINT) AS ticket,
       f.position_action AS action,
       TRY_CAST(nullif(f.position_lots, '') AS DOUBLE) AS lots,
       f.position_symbol AS symbol,
       TRY_CAST(nullif(f.position_openprice, '') AS DOUBLE) AS open_price,
       TRY_CAST(nullif(f.position_closeprice, '') AS DOUBLE) AS close_price,
       strftime(try_strptime(f.position_opentime, '%a %d %b %Y %H:%M:%S'),
                '%Y-%m-%dT%H:%M:%S') AS open_time,
       strftime(try_strptime(nullif(f.position_closetime, '{C.EPOCH_SENTINEL}'),
                             '%a %d %b %Y %H:%M:%S'),
                '%Y-%m-%dT%H:%M:%S') AS close_time,
       TRY_CAST(nullif(f.position_profit, '') AS DOUBLE) AS profit,
       TRY_CAST(nullif(f.position_swap, '') AS DOUBLE) AS swap,
       TRY_CAST(nullif(f.position_commission, '') AS DOUBLE) AS commission,
       TRY_CAST(nullif(f.position_totalprofit, '') AS DOUBLE) AS total_profit,
       TRY_CAST(nullif(nullif(f.position_tp, '0'), '') AS DOUBLE) AS take_profit,
       TRY_CAST(nullif(nullif(f.position_sl, '0'), '') AS DOUBLE) AS stop_loss,
       TRY_CAST(nullif(f.position_magicnumber, '') AS BIGINT) AS magic_number,
       CAST(NULL AS VARCHAR) AS gpt_recommendation_issued,
       CAST(NULL AS VARCHAR) AS gpt_recommendation_content,
       CAST(NULL AS VARCHAR) AS gpt_recommendation_accuracy,
       CAST(NULL AS VARCHAR) AS gpt_suggestion_score,
       CAST(NULL AS VARCHAR) AS trade_deviation_reasoning
FROM filled f
LEFT JOIN registry r USING (account_id)
WHERE f.position_ticket IS NOT NULL
"""


def s4_account_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+T4+K3 batch: registry → cleaned account_metadata rows."""
    return account_metadata(_synthetic_accounts(spark, sf_dir))


S4_ORACLE = f"""
WITH {_SYN_ACCOUNTS_SQL.strip()}
SELECT account_id, account_url, rss_url,
       CASE WHEN trade_win IS NULL OR trade_win = '-' THEN NULL
            WHEN trade_win LIKE '%\\%%' ESCAPE '\\'
              THEN TRY_CAST(replace(trade_win, '%', '') AS DOUBLE) / 100.0
            ELSE TRY_CAST(trade_win AS DOUBLE) END AS trade_win,
       TRY_CAST(replace(total_return, '%', '') AS DOUBLE) / 100.0 AS total_return,
       TRY_CAST(trades_per_day AS DOUBLE) AS trades_per_day,
       CAST(NULL AS VARCHAR) AS strategy_inferred,
       CAST(NULL AS VARCHAR) AS gpt_comments
FROM syn_accounts
"""


QUERIES = {
    "s5_rss_trades_pipeline": s5_rss_trades_pipeline,
    "s4_account_metadata": s4_account_metadata,
}
ORACLES = {
    "s5_rss_trades_pipeline": S5_ORACLE,
    "s4_account_metadata": S4_ORACLE,
}
