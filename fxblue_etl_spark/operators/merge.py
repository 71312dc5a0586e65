"""Keyed upsert / merge (SURVEY §2.2 K1-K3, §2.6 D2-D3, M2).

Vanilla Spark has no keyed mutate on Parquet, so the reference's
``INSERT … ON CONFLICT`` is a library-level merge over DataFrames.
The reference ships **two divergent conflict policies**, both modeled
here explicitly:

* **K1 "preserve"** (`CSV PARSER/gcp_csv.py:38-67`): the DO UPDATE
  clause sets only the 16 payload columns — the six ``gpt_*``
  enrichment columns are *not touched*, so on conflict the OLD row's
  enrichment survives (even if NULL). New keys get the incoming
  (placeholder-NULL) values.
* **K2 "clobber"** (`RSS PARSER/gcp_rss.py:114-170`): DO UPDATE sets
  *every* column to EXCLUDED — enrichment is overwritten (to NULL)
  on every re-run. Pure last-write-wins.
* **K3** (`RSS PARSER/gcp_rss.py:66-80`): K1-shaped — urls/metrics
  updated, ``strategy_inferred``/``gpt_comments`` preserved.

Implementation is a single full-outer shuffle join on the key — the
natural Spark physical plan for CDC-style merge. Scale notes: the join
is a ``SortMergeJoin`` with both sides hash-partitioned on the key
(one shuffle each, none if the base table is bucketed by key on
disk). A small incoming batch does not change that: a full outer join
must emit the unmatched rows of both sides, so Spark never plans it as
a ``BroadcastHashJoin``, with or without AQE. Multi-run batches are
first collapsed by last-write-wins (D3) so the join is 1:1, keeping
the merge skew-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table


def resolve_last_write(
    df: DataFrame, key: Sequence[str], order_col: str = "_ingest_ts"
) -> DataFrame:
    """D3: collapse duplicate keys to the newest row (ties broken by
    nothing — callers wanting determinism add tiebreak columns to
    ``order_col`` via composite ordering upstream)."""
    w = Window.partitionBy(*key).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _q(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    key: Sequence[str],
    preserve_cols: Sequence[str] = (),
    order_col: str | None = None,
) -> DataFrame:
    """Upsert ``new`` into ``old`` by ``key``.

    On key match: payload columns come from ``new``; columns in
    ``preserve_cols`` keep ``old``'s value (K1/K3 — DO UPDATE omits
    them). Unmatched old rows pass through; unmatched new rows insert.
    With ``preserve_cols=()`` this is K2 last-write-wins.

    ``new`` must be unique per key for the join to stay 1:1; pass
    ``order_col`` to first collapse a multi-write batch to its newest
    row per key (D3) — otherwise duplicate keys fan out the join, the
    same way multi-row ``ON CONFLICT`` source batches error out in
    Postgres.

    Both inputs must share the same schema (sink-schema projection P4
    runs upstream). Returns a DataFrame with that schema.
    """
    cols = old.columns
    if cols != new.columns:
        raise ValueError(f"schema mismatch: old={cols} new={new.columns}")
    if order_col is not None:
        new = resolve_last_write(new, key, order_col)
    cond = " AND ".join(f"o.{_q(k)} <=> n.{_q(k)}" for k in key)
    joined = old.alias("o").join(new.alias("n"), F.expr(cond), "full_outer")

    def pick(col: str) -> str:
        c = _q(col)
        if col in key:
            return f"coalesce(n.{c}, o.{c}) AS {c}"
        # a preserved column keeps old's value on a conflict even when
        # NULL (the SQL UPDATE simply never touches it) — so this is a
        # conditional, not a coalesce
        side, other = ("o", "n") if col in preserve_cols else ("n", "o")
        return f"CASE WHEN {side}.{_q(key[0])} IS NOT NULL THEN {side}.{c} ELSE {other}.{c} END AS {c}"

    # SQL text: one py4j call for the whole projection, not several per column
    return joined.selectExpr(*[pick(c) for c in cols])


# ── oracle-checked demonstrations over the fixtures ──────────────────────
# "old" = 90% of orders with partial enrichment; "new" = re-export of
# the even keys with updated payload and NULL enrichment placeholders —
# the exact shape of a reference re-run.

def _old_new(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("ticket"),
        F.col("o_custkey").cast("string").alias("account_id"),
        F.round("o_totalprice", 4).alias("pnl"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("enriched")).alias("gpt_note"),
    )
    old = base.filter(F.col("ticket") % 10 != 0)
    new = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("ticket"),
        F.col("o_custkey").cast("string").alias("account_id"),
        F.round(F.col("o_totalprice") * 1.1, 4).alias("pnl"),
        F.lit(None).cast("string").alias("gpt_note"),
    )
    return old, new


_OLD_NEW_SQL = """
old AS (
  SELECT o_orderkey AS ticket,
         CAST(o_custkey AS VARCHAR) AS account_id,
         round(o_totalprice, 4) AS pnl,
         CASE WHEN o_orderkey % 3 = 0 THEN 'enriched' END AS gpt_note
  FROM orders WHERE o_orderkey % 10 != 0),
new AS (
  SELECT o_orderkey AS ticket,
         CAST(o_custkey AS VARCHAR) AS account_id,
         round(o_totalprice * 1.1, 4) AS pnl,
         CAST(NULL AS VARCHAR) AS gpt_note
  FROM orders WHERE o_orderkey % 2 = 0)
"""


def merge_k1_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: payload updated, enrichment preserved on conflict."""
    old, new = _old_new(spark, sf_dir)
    return merge_upsert(old, new, ["ticket"], preserve_cols=["gpt_note"])


MERGE_K1_ORACLE = f"""
WITH {_OLD_NEW_SQL}
SELECT coalesce(n.ticket, o.ticket) AS ticket,
       CASE WHEN n.ticket IS NOT NULL THEN n.account_id ELSE o.account_id END AS account_id,
       CASE WHEN n.ticket IS NOT NULL THEN n.pnl ELSE o.pnl END AS pnl,
       CASE WHEN o.ticket IS NOT NULL THEN o.gpt_note ELSE n.gpt_note END AS gpt_note
FROM old o FULL OUTER JOIN new n ON o.ticket = n.ticket
"""


def merge_k2_clobber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: every column overwritten on conflict (enrichment → NULL)."""
    old, new = _old_new(spark, sf_dir)
    return merge_upsert(old, new, ["ticket"])


MERGE_K2_ORACLE = f"""
WITH {_OLD_NEW_SQL}
SELECT coalesce(n.ticket, o.ticket) AS ticket,
       CASE WHEN n.ticket IS NOT NULL THEN n.account_id ELSE o.account_id END AS account_id,
       CASE WHEN n.ticket IS NOT NULL THEN n.pnl ELSE o.pnl END AS pnl,
       CASE WHEN n.ticket IS NOT NULL THEN n.gpt_note ELSE o.gpt_note END AS gpt_note
FROM old o FULL OUTER JOIN new n ON o.ticket = n.ticket
"""


def merge_k3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: account_metadata-shaped merge — metrics updated,
    strategy_inferred/gpt_comments preserved."""
    c = table(spark, sf_dir, "customer")
    old = c.select(
        F.col("c_custkey").alias("account_id"),
        F.concat(F.lit("https://old/"), F.col("c_custkey")).alias("account_url"),
        # power-of-two divisor: exact IEEE scaling, bit-identical in
        # both engines with no rounding-mode hazard at half boundaries
        (F.col("c_acctbal") / 8192.0).alias("trade_win"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit("scalper")).alias("strategy_inferred"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("solid")).alias("gpt_comments"),
    )
    new = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("account_id"),
        F.concat(F.lit("https://new/"), F.col("c_custkey")).alias("account_url"),
        (F.col("c_acctbal") / 16384.0).alias("trade_win"),
        F.lit(None).cast("string").alias("strategy_inferred"),
        F.lit(None).cast("string").alias("gpt_comments"),
    )
    return merge_upsert(
        old, new, ["account_id"], preserve_cols=["strategy_inferred", "gpt_comments"]
    )


MERGE_K3_ORACLE = """
WITH old AS (
  SELECT c_custkey AS account_id,
         'https://old/' || CAST(c_custkey AS VARCHAR) AS account_url,
         c_acctbal / 8192.0 AS trade_win,
         CASE WHEN c_custkey % 4 = 0 THEN 'scalper' END AS strategy_inferred,
         CASE WHEN c_custkey % 5 = 0 THEN 'solid' END AS gpt_comments
  FROM customer),
new AS (
  SELECT c_custkey AS account_id,
         'https://new/' || CAST(c_custkey AS VARCHAR) AS account_url,
         c_acctbal / 16384.0 AS trade_win,
         CAST(NULL AS VARCHAR) AS strategy_inferred,
         CAST(NULL AS VARCHAR) AS gpt_comments
  FROM customer WHERE c_custkey % 2 = 0)
SELECT coalesce(n.account_id, o.account_id) AS account_id,
       CASE WHEN n.account_id IS NOT NULL THEN n.account_url ELSE o.account_url END AS account_url,
       CASE WHEN n.account_id IS NOT NULL THEN n.trade_win ELSE o.trade_win END AS trade_win,
       CASE WHEN o.account_id IS NOT NULL THEN o.strategy_inferred ELSE n.strategy_inferred END AS strategy_inferred,
       CASE WHEN o.account_id IS NOT NULL THEN o.gpt_comments ELSE n.gpt_comments END AS gpt_comments
FROM old o FULL OUTER JOIN new n ON o.account_id = n.account_id
"""


def d3_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: three simulated runs of the same export land in one batch;
    the newest run's row survives per key."""
    o = table(spark, sf_dir, "orders")
    runs = None
    for run in (1, 2, 3):
        batch = o.filter(F.col("o_orderkey") % run == 0).select(
            F.col("o_orderkey").alias("ticket"),
            F.round(F.col("o_totalprice") * (1 + run / 10.0), 4).alias("pnl"),
            F.lit(run).alias("_ingest_ts"),
        )
        runs = batch if runs is None else runs.unionAll(batch)
    return resolve_last_write(runs, ["ticket"], "_ingest_ts")


D3_ORACLE = """
WITH runs AS (
  SELECT o_orderkey AS ticket, round(o_totalprice * 1.1, 4) AS pnl, 1 AS _ingest_ts
  FROM orders
  UNION ALL
  SELECT o_orderkey, round(o_totalprice * 1.2, 4), 2 FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, round(o_totalprice * 1.3, 4), 3 FROM orders WHERE o_orderkey % 3 = 0)
SELECT ticket, pnl, _ingest_ts
FROM (SELECT *, row_number() OVER (PARTITION BY ticket ORDER BY _ingest_ts DESC) AS rn
      FROM runs)
WHERE rn = 1
"""


# ── SCD Type 2 merge ─────────────────────────────────────────────────────
# The reference's metadata upsert (K3) keeps no history — each run
# overwrites the registry row in place. The warehouse-scale upgrade is
# a slowly-changing-dimension type-2 merge: close the current version,
# open a new one, keep every historical version queryable by validity
# interval. Same single-shuffle join skeleton as merge_upsert.

def merge_scd2(
    dim: DataFrame,
    updates: DataFrame,
    key: Sequence[str],
    tracked_cols: Sequence[str],
    effective_col: str = "_effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
) -> DataFrame:
    """Apply one batch of ``updates`` to an SCD2 dimension ``dim``.

    ``dim`` carries ``key + tracked_cols + valid_from + valid_to +
    current_flag`` (open rows: ``valid_to`` NULL, flag true).
    ``updates`` carries ``key + tracked_cols + effective_col``.

    Per update key: if no current row exists → insert an open version;
    if any tracked column differs (NULL-safe) → close the current row
    at the update's effective timestamp and open a new version;
    if nothing differs → no-op (idempotent re-runs). History rows pass
    through untouched.

    One shuffle join on the key (history is filtered out before the
    join, so the join side is only the current slice); the result is
    union(history, kept/closed currents, opened versions).
    """
    current = dim.filter(F.col(current_flag))
    history = dim.filter(~F.col(current_flag))
    u = updates.withColumn("__present", F.lit(1)).alias("u")
    c = current.alias("c")

    cond = None
    for k in key:
        eq = F.col(f"c.{k}").eqNullSafe(F.col(f"u.{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = c.join(u, cond, "full_outer")

    has_current = F.col(f"c.{current_flag}").isNotNull()
    has_update = F.col("u.__present").isNotNull()
    changed = F.lit(False)
    for t in tracked_cols:
        changed = changed | ~F.col(f"c.{t}").eqNullSafe(F.col(f"u.{t}"))
    closes = has_current & has_update & changed
    opens = has_update & (~has_current | changed)

    dim_cols = dim.columns
    kept = joined.filter(has_current).select(
        *[F.col(f"c.{col}").alias(col) for col in dim_cols if col not in (valid_to, current_flag)],
        F.when(closes, F.col(f"u.{effective_col}"))
        .otherwise(F.col(f"c.{valid_to}"))
        .alias(valid_to),
        (~closes).alias(current_flag),
    ).select(*dim_cols)
    opened = joined.filter(opens).select(
        *[
            F.col(f"u.{col}").alias(col)
            if col in (*key, *tracked_cols)
            else F.col(f"u.{effective_col}").alias(col)
            if col == valid_from
            else F.lit(None).cast(dim.schema[valid_to].dataType).alias(col)
            if col == valid_to
            else F.lit(True).alias(col)
            for col in dim_cols
        ]
    )
    return history.unionByName(kept).unionByName(opened)


def scd2_customer_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 demo: a customer dimension opened on 2024-01-01 receives a
    batch where every 4th key changed balance (→ close + open), every
    other even key re-sent unchanged (→ no-op), odd keys absent."""
    cust = table(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("account_id"),
        "c_name",
        F.round("c_acctbal", 4).alias("balance"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("account_id"),
        "c_name",
        F.when(
            F.col("c_custkey") % 4 == 0, F.round(F.col("c_acctbal") + 100, 4)
        )
        .otherwise(F.round("c_acctbal", 4))
        .alias("balance"),
        F.lit("2024-06-01").alias("_effective_ts"),
    )
    return merge_scd2(
        dim, upd, key=["account_id"], tracked_cols=["c_name", "balance"]
    )


SCD2_ORACLE = """
WITH dim AS (
  SELECT c_custkey AS account_id, c_name, round(c_acctbal, 4) AS balance,
         '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
         true AS is_current
  FROM customer),
upd AS (
  SELECT c_custkey AS account_id, c_name,
         CASE WHEN c_custkey % 4 = 0 THEN round(c_acctbal + 100, 4)
              ELSE round(c_acctbal, 4) END AS balance,
         '2024-06-01' AS eff
  FROM customer WHERE c_custkey % 2 = 0),
changed AS (
  SELECT u.* FROM upd u JOIN dim c ON u.account_id = c.account_id
  WHERE u.c_name IS DISTINCT FROM c.c_name
     OR u.balance IS DISTINCT FROM c.balance),
new_keys AS (
  SELECT u.* FROM upd u LEFT JOIN dim c ON u.account_id = c.account_id
  WHERE c.account_id IS NULL)
SELECT c.account_id, c.c_name, c.balance, c.valid_from,
       CASE WHEN ch.account_id IS NOT NULL THEN ch.eff ELSE c.valid_to END AS valid_to,
       ch.account_id IS NULL AS is_current
FROM dim c LEFT JOIN changed ch ON c.account_id = ch.account_id
UNION ALL
SELECT account_id, c_name, balance, eff, NULL, true FROM changed
UNION ALL
SELECT account_id, c_name, balance, eff, NULL, true FROM new_keys
"""


QUERIES = {
    "merge_k1_preserve": merge_k1_preserve,
    "merge_k2_clobber": merge_k2_clobber,
    "merge_k3_metadata": merge_k3_metadata,
    "d3_last_write_wins": d3_last_write_wins,
    "scd2_customer_dim": scd2_customer_dim,
}

ORACLES = {
    "merge_k1_preserve": MERGE_K1_ORACLE,
    "merge_k2_clobber": MERGE_K2_ORACLE,
    "merge_k3_metadata": MERGE_K3_ORACLE,
    "d3_last_write_wins": D3_ORACLE,
    "scd2_customer_dim": SCD2_ORACLE,
}
