"""Seeded FXBlue-shaped inputs for the ``fx_ingest_merge`` workload, and
their ground truth.

Inputs (all under one directory, byte-identical for the same seed):

* ``base.parquet`` — the ``historical_trades`` table before the first
  batch, with some ``gpt_*`` enrichment filled in so the K1 preserve
  policy has something to preserve;
* ``registry.csv`` — the RSS account registry (one account left out, so
  the registry join has unmatched rows);
* ``batch_NNN/`` — per-account CSV exports with a title row; one file
  that fails the required-column gate; rows repeated within their file;
  re-exports of earlier tickets with a changed payload; and
  ``entries.parquet``, the injected RSS feed entries of that batch.

The ground truth is computed here from those files with the ``csv``
module and pyarrow, never through the engine: the expected
``historical_trades`` and ``rss_trades`` tables and the per-account
ledger after each batch.
"""

from __future__ import annotations

import csv
import hashlib
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TITLE = "FXBlue trade history export"
# Sizes follow the engine's own FXBlue fixture,
# ``sources.fxblue_csv.materialize_fixture_csvs``: the TPC-H ``orders``
# table split into 8 per-account exports plus one gated file, 150,000
# rows at sf0.1. A batch here is that fixture at 1/10 scale (sf0.01,
# 15,000 rows), so that a run times several batches; the base table is
# one such batch.
N_ACCOUNTS = 8
BATCH_ROWS = 5_000  # new tickets per batch, over all accounts
BASE_ROWS = BATCH_ROWS
# The warm-up batch is run a fixed number of times, each into fresh tables.
# What gets faster is mostly per-call code (planning, scheduling, worker
# start), so a tenth of a batch warms it at a fraction of the cost; a
# full-size warm-up batch did not make the timed batches steadier.
WARM_ROWS = BATCH_ROWS // 10
# No source gives the mix of a real export; these shares are unverified
# choices that make every cleaning and merge branch do some work.
REEXPORT = 0.2  # re-exported earlier tickets, as a share of BATCH_ROWS
DUP = 0.03  # rows repeated verbatim within their file
BAD_PROFIT = 0.005  # profits that do not parse and become NULL
RSS_POSITIONS = 40  # new RSS positions per account per batch
RSS_AGAIN = 8  # earlier RSS positions re-emitted per account per batch
EPOCH_SENTINEL = "Thu 1 Jan 1970 00:00:00"

CSV_COLS = ["Ticket", "Symbol", "Buy/sell", "Open price", "Close price", "Open time", "Lots", "Profit", "Net profit"]
REQUIRED = ("Open time", "Symbol", "Buy/sell", "Open price", "Close price", "Lots", "Profit")
SYMBOLS = np.array(["EURUSD", "GBPUSD", "USDJPY", "AUDUSD", "XAUUSD"])
GPT_COLS = [
    ("gpt_inferred_strategy", pa.string()),
    ("gpt_strategy_confidence", pa.float64()),
    ("gpt_trade_evaluation", pa.string()),
    ("gpt_alternative_action", pa.string()),
    ("was_gpt_recommendation_followed", pa.string()),
    ("gpt_impact_alignment", pa.string()),
]
HIST_SCHEMA = pa.schema(
    [
        ("ticket", pa.int64()),
        ("account_id", pa.string()),
        ("symbol", pa.string()),
        ("trade_type", pa.string()),
        ("entry_price", pa.float64()),
        ("exit_price", pa.float64()),
        ("timestamp", pa.string()),
        ("lot_size", pa.float64()),
        ("pnl", pa.float64()),
        ("net_profit", pa.float64()),
    ]
    + GPT_COLS
)
SNAP_FIELDS = [
    ("account_balance", "account_balance"),
    ("account_equity", "account_equity"),
    ("account_floatingprofit", "account_floating_profit"),
    ("account_closedprofit", "account_closed_profit"),
    ("account_freemargin", "account_free_margin"),
]
POS_FIELDS = [
    "position_ticket", "position_action", "position_lots", "position_symbol",
    "position_openprice", "position_closeprice", "position_opentime",
    "position_closetime", "position_profit", "position_swap",
    "position_commission", "position_totalprofit", "position_tp",
    "position_sl", "position_magicnumber",
]
ENTRY_SCHEMA = pa.schema(
    [("account_id", pa.string()), ("entry_idx", pa.int64())]
    + [(s, pa.string()) for s, _ in SNAP_FIELDS]
    + [(p, pa.string()) for p in POS_FIELDS]
)
RSS_COLS = [
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
_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


@dataclass
class Batch:
    dir: str
    entries: str
    files: int  # CSV files, the gated one included
    gated: int  # files the required-column gate must skip
    rows: int  # CSV data rows plus feed entries: the op's input rows
    csv_bytes: int


@dataclass
class FxInputs:
    root: str
    base: str
    registry: str
    warm: Batch
    batches: list[Batch]
    digest: str  # sha256 over every generated file


def _fmt(xs: np.ndarray, nd: int) -> list[str]:
    return [f"{x:.{nd}f}" for x in xs]


def _ts(epoch: np.ndarray, fmt: str) -> list[str]:
    return [datetime.fromtimestamp(int(t), timezone.utc).strftime(fmt) for t in epoch]


class _Trades:
    """The immutable attributes of every ticket issued so far."""

    def __init__(self):
        self.ticket = np.zeros(0, np.int64)
        self.acct = np.zeros(0, np.int64)
        self.symbol = np.zeros(0, np.int64)
        self.side = np.zeros(0, np.int64)
        self.open_price = np.zeros(0)
        self.open_time = np.zeros(0, np.int64)
        self.lots = np.zeros(0)

    def issue(self, rng, first: int, n: int) -> np.ndarray:
        idx = np.arange(len(self.ticket), len(self.ticket) + n)
        self.ticket = np.concatenate([self.ticket, np.arange(first, first + n)])
        self.acct = np.concatenate([self.acct, rng.integers(0, N_ACCOUNTS, n)])
        self.symbol = np.concatenate([self.symbol, rng.integers(0, len(SYMBOLS), n)])
        self.side = np.concatenate([self.side, rng.integers(0, 2, n)])
        self.open_price = np.concatenate([self.open_price, np.round(rng.uniform(0.5, 2.0, n), 5)])
        self.open_time = np.concatenate([self.open_time, _T0 + rng.integers(0, 180 * 86400, n)])
        self.lots = np.concatenate([self.lots, np.round(rng.uniform(0.01, 5.0, n), 2)])
        return idx


def _payload(rng, n: int):
    close = np.round(rng.uniform(0.5, 2.0, n), 5)
    profit = np.round(rng.uniform(-900, 900, n), 2)
    net = np.round(profit - rng.uniform(0, 15, n), 2)
    return close, profit, net


def _write_base(rng, trades: _Trades, accounts: list[str], path: str) -> None:
    idx = trades.issue(rng, 1_000_000, BASE_ROWS)
    close, profit, net = _payload(rng, BASE_ROWS)
    strategies = np.array(["scalping", "trend", "swing", "news"])
    enriched = rng.random(BASE_ROWS) < 0.4
    cols = {
        "ticket": trades.ticket[idx],
        "account_id": [accounts[a] for a in trades.acct[idx]],
        "symbol": SYMBOLS[trades.symbol[idx]].tolist(),
        "trade_type": np.where(trades.side[idx] == 0, "Buy", "Sell").tolist(),
        "entry_price": trades.open_price[idx],
        "exit_price": close,
        "timestamp": _ts(trades.open_time[idx], "%Y-%m-%dT%H:%M:%S"),
        "lot_size": trades.lots[idx],
        "pnl": profit,
        "net_profit": net,
        "gpt_inferred_strategy": [s if e else None for s, e in zip(strategies[rng.integers(0, 4, BASE_ROWS)], enriched)],
        "gpt_strategy_confidence": [float(c) if e else None for c, e in zip(np.round(rng.uniform(0, 1, BASE_ROWS), 2), enriched)],
        "gpt_trade_evaluation": ["ok" if e else None for e in enriched],
        "gpt_alternative_action": [None] * BASE_ROWS,
        "was_gpt_recommendation_followed": ["yes" if e else None for e in enriched],
        "gpt_impact_alignment": [None] * BASE_ROWS,
    }
    pq.write_table(pa.table(cols, schema=HIST_SCHEMA), path)


def _write_csvs(rng, trades: _Trades, accounts: list[str], out: str, first_ticket: int, n_new: int) -> tuple[int, int]:
    """One batch of per-account exports with ``n_new`` new tickets, plus
    the gated file; returns (data rows, files)."""
    existing = len(trades.ticket)
    again = rng.choice(existing, int(REEXPORT * n_new), replace=False)
    idx = np.concatenate([trades.issue(rng, first_ticket, n_new), again])
    close, profit, net = _payload(rng, len(idx))
    profit_s = np.array(_fmt(profit, 2), dtype=object)
    profit_s[rng.random(len(idx)) < BAD_PROFIT] = "n/a"  # coerced to NULL
    rows = np.array(
        [
            trades.ticket[idx].astype(str),
            SYMBOLS[trades.symbol[idx]],
            np.where(trades.side[idx] == 0, "Buy", "Sell"),
            _fmt(trades.open_price[idx], 5),
            _fmt(close, 5),
            _ts(trades.open_time[idx], "%Y-%m-%d %H:%M:%S"),
            _fmt(trades.lots[idx], 2),
            profit_s,
            _fmt(net, 2),
        ],
        dtype=object,
    ).T
    acct = trades.acct[idx]
    dups = rng.choice(len(rows), int(DUP * len(rows)), replace=False)
    rows, acct = np.concatenate([rows, rows[dups]]), np.concatenate([acct, acct[dups]])
    order = rng.permutation(len(rows))
    rows, acct = rows[order], acct[order]
    os.makedirs(out, exist_ok=True)
    for a, account in enumerate(accounts):
        # odd accounts export without the optional "Net profit" column
        ncols = len(CSV_COLS) - (a % 2)
        with open(os.path.join(out, f"{account}.csv"), "w", newline="") as f:
            f.write(TITLE + "\n")
            w = csv.writer(f, lineterminator="\n")
            w.writerow(CSV_COLS[:ncols])
            w.writerows(r[:ncols] for r in rows[acct == a])
    gated = [c for c in CSV_COLS if c != "Open time"]
    with open(os.path.join(out, "9000001.csv"), "w", newline="") as f:
        f.write(TITLE + "\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(gated)
        w.writerows([r[i] for i, c in enumerate(CSV_COLS) if c != "Open time"] for r in rows[:25])
    return len(rows) + 25, len(accounts) + 1


def _write_entries(rng, accounts: list[str], rss_acct: list[np.ndarray], out: str, first_ticket: int) -> int:
    """The RSS feed entries of one batch: per account a snapshot, then new
    positions and re-emitted earlier ones (changed profit) with a fresh
    snapshot every 10 entries. Returns the entry count."""
    cols: dict[str, list] = {f.name: [] for f in ENTRY_SCHEMA}
    ticket = first_ticket
    for a in range(N_ACCOUNTS):
        again = rng.choice(rss_acct[a], min(RSS_AGAIN, len(rss_acct[a])), replace=False)
        fresh = np.arange(ticket, ticket + RSS_POSITIONS)
        ticket += RSS_POSITIONS
        rss_acct[a] = np.concatenate([rss_acct[a], fresh])
        positions = rng.permutation(np.concatenate([fresh, again]))
        entries: list[dict] = []
        for k, t in enumerate(positions):
            if k % 10 == 0:
                snap = {s: f"{v:.2f}" for (s, _), v in zip(SNAP_FIELDS, rng.uniform(-500, 20000, 5))}
                if rng.random() < 0.2:
                    snap["account_equity"] = ""  # a gap the LOCF carries over
                entries.append(snap)
            opened = int(_T0 + rng.integers(0, 180 * 86400))
            closed = opened + int(rng.integers(60, 5 * 86400))
            tp, sl = rng.uniform(0.5, 2.0, 2)
            entries.append(
                {
                    "position_ticket": str(t),
                    "position_action": "Buy" if rng.random() < 0.5 else "Sell",
                    "position_lots": "" if rng.random() < 0.05 else f"{rng.uniform(0.01, 5):.2f}",
                    "position_symbol": str(SYMBOLS[rng.integers(0, len(SYMBOLS))]),
                    "position_openprice": f"{rng.uniform(0.5, 2.0):.5f}",
                    "position_closeprice": "" if rng.random() < 0.05 else f"{rng.uniform(0.5, 2.0):.5f}",
                    "position_opentime": _ts([opened], "%a %-d %b %Y %H:%M:%S")[0],
                    "position_closetime": EPOCH_SENTINEL if rng.random() < 0.1 else _ts([closed], "%a %-d %b %Y %H:%M:%S")[0],
                    "position_profit": f"{rng.uniform(-900, 900):.2f}",
                    "position_swap": "" if rng.random() < 0.1 else f"{rng.uniform(-5, 5):.2f}",
                    "position_commission": f"{rng.uniform(0, 10):.2f}",
                    "position_totalprofit": f"{rng.uniform(-900, 900):.2f}",
                    "position_tp": "0" if rng.random() < 0.3 else f"{tp:.5f}",
                    "position_sl": "0" if rng.random() < 0.3 else f"{sl:.5f}",
                    "position_magicnumber": "" if rng.random() < 0.2 else str(int(rng.integers(1, 99999))),
                }
            )
        for i, e in enumerate(entries):
            for name in cols:
                cols[name].append(e.get(name))
            cols["account_id"][-1] = accounts[a]
            cols["entry_idx"][-1] = i
    pq.write_table(pa.table(cols, schema=ENTRY_SCHEMA), out)
    return len(cols["entry_idx"])


def _write_registry(accounts: list[str], path: str) -> None:
    wins = ("55%", "-", "0.61", "48.5%")
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["account_id", "account_url", "rss_url", "trade_win", "total_return", "trades_per_day"])
        # the last account is missing from the registry
        for a in range(N_ACCOUNTS - 1):
            w.writerow([accounts[a], f"https://www.fxblue.com/users/{accounts[a]}",
                        f"https://feeds.fxblue.com/{accounts[a]}.rss", wins[a % 4],
                        f"{a * 3.5 - 4:.1f}%", f"{a * 0.7 + 0.5:.1f}"])


def generate(seed: int, root: str, n_batches: int) -> FxInputs:
    """Write the inputs of one run under ``root``: the base table, the
    registry, a warm-up batch and ``n_batches`` measured batches."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    accounts = [str(7_000_000 + 1_009 * a) for a in range(N_ACCOUNTS)]
    trades = _Trades()
    base = os.path.join(root, "base.parquet")
    _write_base(rng, trades, accounts, base)
    registry = os.path.join(root, "registry.csv")
    _write_registry(accounts, registry)
    rss_acct = [np.zeros(0, np.int64) for _ in range(N_ACCOUNTS)]
    batches = []
    # the warm-up batch comes last, so no measured batch re-exports its tickets
    for i in [*range(1, n_batches + 1), 0]:
        name = "warm" if i == 0 else f"batch_{i:03d}"
        d = os.path.join(root, name)
        n_new = WARM_ROWS if i == 0 else BATCH_ROWS
        rows, files = _write_csvs(rng, trades, accounts, d, 2_000_000 + i * 100_000, n_new)
        csv_bytes = sum(p.stat().st_size for p in Path(d).glob("*.csv"))
        entries = os.path.join(d, "entries.parquet")
        rows += _write_entries(rng, accounts, rss_acct, entries, 30_000_000 + i * 10_000)
        batches.append(Batch(d, entries, files, 1, rows, csv_bytes))
    h = hashlib.sha256()
    for p in sorted(Path(root).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return FxInputs(root, base, registry, batches[-1], batches[:-1], h.hexdigest())


# ── ground truth, from the generated files ───────────────────────────────

def _num(s: str | None) -> float | None:
    try:
        return float(s) if s else None
    except ValueError:
        return None


def _iso(s: str, fmt: str) -> str | None:
    try:
        return datetime.strptime(s, fmt).strftime("%Y-%m-%dT%H:%M:%S")
    except (TypeError, ValueError):
        return None


def _pct(s: str | None) -> float | None:
    if s is None or s == "-":
        return None
    return _num(s.replace("%", "")) / 100.0 if "%" in s else _num(s)


def _rss_time(s: str | None) -> str | None:
    # the day name carries no information: parse the last four fields
    return None if s is None else _iso(" ".join(s.split(" ")[-4:]), "%d %b %Y %H:%M:%S")


class Truth:
    """Expected tables after each batch: ``historical_trades`` under the
    K1 preserve policy, ``rss_trades`` under K2 clobber, and the
    per-account ledger (trade count, PnL in cents)."""

    def __init__(self, inputs: FxInputs):
        self.hist = {r["ticket"]: r for r in pq.read_table(inputs.base).to_pylist()}
        self.rss: dict[int, dict] = {}
        with open(inputs.registry, newline="") as f:
            self.registry = {
                r["account_id"]: {
                    "account_url": r["account_url"],
                    "rss_url": r["rss_url"],
                    "trade_win": _pct(r["trade_win"]),
                    "total_return": _pct(r["total_return"]),
                    "trades_per_day": _pct(r["trades_per_day"]),
                }
                for r in csv.DictReader(f)
            }
        self.skipped: list[int] = []

    def apply(self, batch: Batch) -> None:
        self._apply_csvs(batch)
        self._apply_entries(batch)

    def _apply_csvs(self, batch: Batch) -> None:
        incoming: dict[tuple, dict] = {}
        skipped = 0
        for path in sorted(Path(batch.dir).glob("*.csv")):
            with open(path, newline="") as f:
                f.readline()  # title row
                reader = csv.DictReader(f)
                if not all(c in reader.fieldnames for c in REQUIRED):
                    skipped += 1
                    continue
                for r in reader:
                    row = {
                        "ticket": int(r["Ticket"]),
                        "account_id": path.stem,
                        "symbol": r["Symbol"],
                        "trade_type": r["Buy/sell"],
                        "entry_price": _num(r["Open price"]),
                        "exit_price": _num(r["Close price"]),
                        "timestamp": _iso(r["Open time"], "%Y-%m-%d %H:%M:%S"),
                        "lot_size": _num(r["Lots"]),
                        "pnl": _num(r["Profit"]),
                        "net_profit": _num(r.get("Net profit")),
                    }
                    incoming.setdefault((row["account_id"], row["ticket"], row["timestamp"]), row)
        self.skipped.append(skipped)
        for row in incoming.values():
            old = self.hist.get(row["ticket"])
            for c, _ in GPT_COLS:
                row[c] = old[c] if old is not None else None
            self.hist[row["ticket"]] = row

    def _apply_entries(self, batch: Batch) -> None:
        entries = pq.read_table(batch.entries).to_pylist()
        entries.sort(key=lambda e: (e["account_id"], e["entry_idx"]))
        carry: dict[str, float | None] = {}
        account = None
        for e in entries:
            if e["account_id"] != account:
                account, carry = e["account_id"], {dst: None for _, dst in SNAP_FIELDS}
            for src, dst in SNAP_FIELDS:
                if _num(e[src]) is not None:
                    carry[dst] = _num(e[src])
            if e["position_ticket"] is None:
                continue
            reg = self.registry.get(account, {})
            zero_null = lambda s: None if s in ("0", "") else s  # noqa: E731
            row = {
                "account_id": account,
                **{c: reg.get(c) for c in ("account_url", "rss_url", "trade_win", "total_return", "trades_per_day")},
                **carry,
                "ticket": int(e["position_ticket"]),
                "action": e["position_action"],
                "lots": _num(e["position_lots"]),
                "symbol": e["position_symbol"],
                "open_price": _num(e["position_openprice"]),
                "close_price": _num(e["position_closeprice"]),
                "open_time": _rss_time(e["position_opentime"]),
                "close_time": _rss_time(None if e["position_closetime"] == EPOCH_SENTINEL else e["position_closetime"]),
                "profit": _num(e["position_profit"]),
                "swap": _num(e["position_swap"]),
                "commission": _num(e["position_commission"]),
                "total_profit": _num(e["position_totalprofit"]),
                "take_profit": _num(zero_null(e["position_tp"])),
                "stop_loss": _num(zero_null(e["position_sl"])),
                "magic_number": int(e["position_magicnumber"]) if e["position_magicnumber"] else None,
            }
            for c in RSS_COLS[-5:]:
                row[c] = None
            self.rss[row["ticket"]] = row

    def ledger(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for r in self.hist.values():
            acc = out.setdefault(r["account_id"], [0, 0])
            acc[0] += 1
            if r["pnl"] is not None:
                acc[1] += round(r["pnl"] * 100)
        return {k: (n, c) for k, (n, c) in out.items()}

    def hist_rows(self) -> list[tuple]:
        return [tuple(r[f.name] for f in HIST_SCHEMA) for r in self.hist.values()]

    def rss_rows(self) -> list[tuple]:
        return [tuple(r[c] for c in RSS_COLS) for r in self.rss.values()]

    def live_bytes(self) -> int:
        """Size of the live ``historical_trades`` rows as CSV text."""
        return sum(
            len(",".join("" if v is None else str(v) for v in row)) + 1 for row in self.hist_rows()
        )
