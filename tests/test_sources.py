"""Source tests: CSV title-row skip + F1 gate, parse parity with pandas,
RSS fetch interface, and the fx batch's plan shape."""

from __future__ import annotations

import io
import os
import re

import pandas as pd
import pytest

from fxblue_etl_spark.sources import fxblue_csv, rss_feed


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("csvs")
    good = d / "12345.csv"
    good.write_text(
        "FXBlue personal trade history\n"
        "Ticket,Symbol,Buy/sell,Open price,Close price,Open time,Lots,Profit\n"
        "7,EURUSD,Buy,1.10,1.20,2019-03-21 09:00:11,0.5,10.5\n"
        "7,EURUSD,Buy,1.10,1.20,2019-03-21 09:00:11,0.5,10.5\n"  # dup → D1
        "8,GBPUSD,Sell,1.30,oops,bad-time,1.0,-2.0\n"  # coercion → NULLs
    )
    bad = d / "nocols.csv"
    bad.write_text("title\nTicket,Symbol\n1,EURUSD\n")
    return str(d)


def test_csv_ingest_skips_title_and_bad_file(spark, csv_dir):
    df = fxblue_csv.ingest_fxblue_dir(spark, csv_dir + "/*.csv")
    rows = {r.ticket: r for r in df.collect()}
    # dup ticket deduped (D1), bad file gate-skipped (F1)
    assert set(rows) == {7, 8}
    assert rows[7].account_id == "12345"  # S3 filename → account_id
    assert rows[7].entry_price == 1.10
    assert rows[7].timestamp == "2019-03-21T09:00:11"
    assert rows[8].exit_price is None  # 'oops' coerced → NULL (T1)
    assert rows[8].timestamp is None  # 'bad-time' → NULL (F4)
    assert rows[7].gpt_inferred_strategy is None  # P3 placeholder


# ── Catalyst parse vs the pandas reference ─────────────────────────────


def pandas_parse_files(batches):
    """The reference parse (`CSV PARSER/gcp_csv.py:76`) over batches of
    ``(path, content)`` rows: per file, pandas with the title row
    skipped, the filename as account_id, F1 and F5 as skip-the-file."""
    from fxblue_etl_spark.sources.fxblue_csv import _FIELD_OF, _RAW_SCHEMA, REQUIRED_RAW

    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            account_id = os.path.basename(path).split(".csv")[0]
            try:
                raw = pd.read_csv(io.StringIO(content), skiprows=1, dtype=str)
            except Exception:
                continue  # F5: log-and-skip file (gcp_csv.py:197-198)
            if not all(c in raw.columns for c in REQUIRED_RAW):
                continue  # F1: whole file skipped (gcp_csv.py:117-119)
            out = pd.DataFrame({"account_id": account_id}, index=raw.index)
            for raw_name, field in _FIELD_OF.items():
                out[field] = raw[raw_name] if raw_name in raw.columns else None
            yield out[[f.name for f in _RAW_SCHEMA.fields]]


_H = "Ticket,Symbol,Buy/sell,Open price,Close price,Open time,Lots,Profit"
_R = "7,EURUSD,Buy,1.10,1.20,2019-03-21 09:00:11,0.5,10.5"

#: one FXBlue export per case, title line first
PARITY_CASES = {
    "plain": f"FXBlue export\n{_H}\n{_R}\n8,GBPUSD,Sell,1.3,oops,bad-time,1,-2\n",
    "crlf": f"FXBlue export\r\n{_H}\r\n{_R}\r\n",
    "lone_cr": f"FXBlue export\r{_H}\r{_R}\r",
    "blank_lines": f"FXBlue export\n\n \t\n{_H}\n\n{_R}\n   \n{_R}\n\n",
    "reordered_extra": (
        "FXBlue export\nComment,Profit,Lots,Open time,Close price,Open price,Buy/sell,Symbol,Ticket,Swap\n"
        "x,1.5,2,2019-03-21 09:00:11,1.2,1.1,Buy,EURUSD,9,0.1\n"
    ),
    "quoted": f'FXBlue export\n{_H},Net profit\n7,"EUR,USD","Bu""y",1,2,"3",4,"-1,5","a""b"\n',
    # text after a closing quote is plain: its "" stays two quotes
    "quote_then_text": f'FXBlue export\n{_H}\n7,"EUR"USD""x,"B""u"y""",1,2,3,4,5\n',
    # a ~20k-character quoted field in an unknown column
    "long_quoted": f'FXBlue export\n{_H},Comment\n{_R},"{"ab,"" " * 4000}"\n{_R},x\n',
    "na_tokens": f'FXBlue export\n{_H},Net profit\nNA,"NA",n/a,,null,NaN,None,#N/A,""\n,,,,,,,,\n',
    "narrow_row": f"FXBlue export\n{_H}\n7,EURUSD\n{_R}\n",
    "wide_row": f"FXBlue export\n{_H}\n{_R}\n{_R},9\n",
    "gated": "FXBlue export\nTicket,Symbol\n1,EURUSD\n",
    "title_only": "FXBlue export\n",
    "header_only": f"FXBlue export\n{_H}\n",
    "duplicate_header": f"FXBlue export\n{_H},Symbol\n{_R},GBPUSD\n",
    "padded_fields": f"FXBlue export\n{_H}\n 7 , EURUSD ,Buy,1.1,1.2,x,0.5, NA \n",
    "title_quoted_comma": f'"FXBlue, export",2019\n{_H}\n{_R}\n',
}

#: files pandas parses but the Catalyst parse skips as F5 (module docstring)
DIVERGENT_CASES = {
    "quoted_line_break": f'FXBlue export\n{_H}\n7,"EUR\nUSD",Buy,1,2,3,4,5\n',
    "implicit_index": f"FXBlue export\n{_H}\n{_R},\n{_R},\n",
}


def _rows(pdfs) -> list[tuple]:
    return [
        tuple(None if pd.isna(v) else v for v in row)
        for pdf in pdfs
        for row in pdf.itertuples(index=False)
    ]


@pytest.fixture(scope="module")
def parsed(spark):
    """Every case parsed in one Spark job, grouped by file."""
    cases = {**PARITY_CASES, **DIVERGENT_CASES}
    files = spark.createDataFrame(
        [(f"file:/exports/{k}.csv", v) for k, v in cases.items()], "path string, content string"
    )
    out: dict[str, list[tuple]] = {k: [] for k in cases}
    for r in fxblue_csv.parse_fxblue_files(files).collect():
        out[r.account_id].append(tuple(r))
    return out


def _reference(name: str, content: str) -> list[tuple]:
    batch = pd.DataFrame({"path": [f"file:/exports/{name}.csv"], "content": [content]})
    return _rows(pandas_parse_files([batch]))


@pytest.mark.parametrize("name", sorted(PARITY_CASES))
def test_parse_matches_pandas(parsed, name):
    assert parsed[name] == _reference(name, PARITY_CASES[name])


@pytest.mark.parametrize("name", sorted(DIVERGENT_CASES))
def test_parse_divergence_skips_file(parsed, name):
    """pandas reads these files; the Catalyst parse skips them (F5)."""
    assert _reference(name, DIVERGENT_CASES[name])
    assert parsed[name] == []


# ── plan shape of one fx batch ──────────────────────────────────────────

_PYTHON_NODES = re.compile(r"MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|PythonUDF")


def _python_nodes(df) -> set[str]:
    """Python-worker nodes in ``df``'s analyzed plan (every node and
    expression class, from its JSON form) and in its executed plan
    (the final adaptive plan after an action)."""
    qe = df._jdf.queryExecution()
    found = set(_PYTHON_NODES.findall(qe.analyzed().toJSON()))
    df.collect()
    return found | set(_PYTHON_NODES.findall(qe.executedPlan().toString()))


def test_glob_and_folder_filter_read_the_same_files(spark, csv_dir, tmp_path, monkeypatch):
    """``read_fxblue_csv`` reads ``dir/*.csv`` as the folder with a name
    filter; the ``(path, content)`` rows it parses are those the glob
    spelling reads."""
    from pyspark.sql import functions as F

    for name in os.listdir(csv_dir):
        (tmp_path / name).write_text(open(os.path.join(csv_dir, name)).read())
    (tmp_path / "notes.txt").write_text("not an export\n")
    path_glob = str(tmp_path / "*.csv")
    parsed = []
    monkeypatch.setattr(fxblue_csv, "parse_fxblue_files", parsed.append)
    fxblue_csv.read_fxblue_csv(spark, path_glob)
    glob_rows = spark.read.text(path_glob, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("content")
    ).collect()
    assert len(glob_rows) == 2
    assert sorted(map(tuple, parsed[0].collect())) == sorted(map(tuple, glob_rows))


def test_fx_batch_runs_no_python_worker(spark, csv_dir, tmp_path):
    """One fx batch — CSV ingest → K1 merge, feed entries → rss_trades →
    K2 merge — over file inputs, as the write path reads them."""
    from fxblue_etl_spark.operators import cleaning, merge

    entries = pd.DataFrame(
        [["a1", 0, "1000", "900", "10", "20", "30"] + [None] * 15,
         ["a1", 1] + [None] * 5 + ["2", "Sell", "2", "GBPUSD", "1.3", "", "Thu 21 Mar 2019 10:00:11",
                                   "Fri 22 Mar 2019 10:00:11", "-3", "1", "2", "-2", "1.5", "0", "77"]],
        columns=[c.split()[0] for c in rss_feed.ENTRY_COLS.split(", ")],
    )
    entries.to_parquet(tmp_path / "entries.parquet")
    (tmp_path / "registry.csv").write_text(
        "account_id,account_url,rss_url,trade_win,total_return,trades_per_day\n"
        "a1,http://u,http://r,60%,-,2\n"
    )
    accounts = spark.read.csv(str(tmp_path / "registry.csv"), header=True, schema=(
        "account_id string, account_url string, rss_url string, "
        "trade_win string, total_return string, trades_per_day string"))

    new = fxblue_csv.ingest_fxblue_dir(spark, csv_dir + "/*.csv")
    rss = rss_feed.rss_trades(spark.read.parquet(str(tmp_path / "entries.parquet")), accounts)
    new.write.parquet(str(tmp_path / "hist"))
    rss.write.parquet(str(tmp_path / "rss"))
    k1 = merge.merge_upsert(
        spark.read.parquet(str(tmp_path / "hist")), new, ["ticket"],
        preserve_cols=list(cleaning.GPT_PLACEHOLDER_COLS),
    )
    k2 = merge.merge_upsert(spark.read.parquet(str(tmp_path / "rss")), rss, ["ticket"])
    for df in (new, rss, k1, k2):
        assert _python_nodes(df) == set()
    # the guard sees a Python step when there is one
    assert _python_nodes(new.mapInPandas(lambda it: it, new.schema)) >= {"MapInPandas"}


def test_rss_fetch_with_injected_fetcher(monkeypatch):
    """mode=network maps each account's feed entries, in order, to
    ENTRY_COLS rows: account_id from the registry, entry_idx the
    entry's position, every other field by name (missing → None)."""
    from fxblue_etl_spark.sources import rss_datasource

    def canned(url):
        if url == "u1":
            return [
                {"account_balance": "100", "account_equity": "90",
                 "account_floatingprofit": "1", "account_closedprofit": "2",
                 "account_freemargin": "3"},
                {"position_ticket": "11", "position_action": "Buy",
                 "position_lots": "0.5", "position_symbol": "EURUSD",
                 "position_openprice": "1.1", "position_closeprice": "",
                 "position_opentime": "Thu 21 Mar 2019 09:00:11",
                 "position_closetime": "Thu 1 Jan 1970 00:00:00",
                 "position_profit": "5", "position_swap": "",
                 "position_commission": "0.1", "position_totalprofit": "5.1",
                 "position_tp": "0", "position_sl": "1.05",
                 "position_magicnumber": ""},
            ]
        return []

    monkeypatch.setattr(rss_datasource, "_network_entries", canned)
    accounts = [{"account_id": "a1", "rss_url": "u1"}, {"account_id": "a2", "rss_url": "u2"}]
    rows = [
        dict(zip(rss_feed.ENTRY_FIELDS, r))
        for r in rss_datasource._read_accounts(accounts, "network")
    ]
    assert len(rows) == 2
    assert rows[0]["account_id"] == "a1" and rows[0]["entry_idx"] == 0
    assert rows[0]["account_balance"] == "100" and rows[0]["position_ticket"] is None
    assert rows[1]["entry_idx"] == 1 and rows[1]["position_ticket"] == "11"
    assert rows[1]["position_closeprice"] == "" and rows[1]["account_balance"] is None


def test_one_path_per_ingest_source():
    """The ``fxblue_rss`` DataSource is the one RSS fetch path and its
    parquet ``registry_path`` the one registry input; the stdlib
    ``read_xlsx`` is the one workbook parser: ``feedparser`` is
    imported in exactly one package function, and no package file
    names pandas' Excel reader or the retired inline-registry options."""
    import ast
    from pathlib import Path

    import fxblue_etl_spark

    pkg = Path(fxblue_etl_spark.__file__).parent
    importers, named = [], []
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text()
        named += [(p.name, w) for w in ("read_excel", "accounts_json", "chunk_size") if w in text]

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child.name)
                    continue
                mods = (
                    [a.name for a in child.names] if isinstance(child, ast.Import)
                    else [child.module] if isinstance(child, ast.ImportFrom) else []
                )
                if "feedparser" in {m.split(".")[0] for m in mods if m}:
                    importers.append(f"{p.stem}.{fn}")
                visit(child, fn)

        visit(ast.parse(text), "<module>")
    assert importers == ["rss_datasource._network_entries"]
    assert named == []


def test_rss_trades_locf_and_sentinels(spark):
    accounts = spark.createDataFrame(
        [("a1", "http://u", "http://r", "60%", "-", "2")],
        "account_id string, account_url string, rss_url string, "
        "trade_win string, total_return string, trades_per_day string",
    )
    entries = spark.createDataFrame(
        [
            # trade BEFORE any snapshot → carried values stay NULL
            ("a1", 0, None, None, None, None, None, "1", "Buy", "1", "EURUSD",
             "1.1", "1.2", "Thu 21 Mar 2019 09:00:11", "Thu 1 Jan 1970 00:00:00",
             "5", "", "0", "5", "0", "0", ""),
            # snapshot
            ("a1", 1, "1000", "900", "10", "20", "30", None, None, None, None,
             None, None, None, None, None, None, None, None, None, None, None),
            # trade AFTER snapshot → carried values filled
            ("a1", 2, None, None, None, None, None, "2", "Sell", "2", "GBPUSD",
             "1.3", "", "Thu 21 Mar 2019 10:00:11", "Fri 22 Mar 2019 10:00:11",
             "-3", "1", "2", "-2", "1.5", "0", "77"),
        ],
        rss_feed.ENTRY_COLS,
    )
    out = {r.ticket: r for r in rss_feed.rss_trades(entries, accounts).collect()}
    assert out[1].account_balance is None  # no snapshot seen yet
    assert out[2].account_balance == 1000.0  # LOCF (W1)
    assert out[1].close_time is None  # epoch sentinel (T5)
    assert out[2].close_time == "2019-03-22T10:00:11"
    assert out[1].take_profit is None and out[2].take_profit == 1.5
    assert out[2].stop_loss is None  # '0' sentinel
    assert out[1].magic_number is None and out[2].magic_number == 77
    assert out[1].trade_win == 0.6  # J1 join + T4
    assert out[1].total_return is None  # '-' → NULL


def test_csv_multiline_roundtrip_really_splits_lines(spark, sf_dir):
    """The staged CSV must physically contain quoted embedded
    newlines (more raw lines than records) and the multiLine reader
    must reassemble exactly one record per document."""
    import glob
    import os

    from fxblue_etl_spark.io import stage_fixture, table
    from fxblue_etl_spark.sources.fxblue_csv import csv_multiline_roundtrip

    out = csv_multiline_roundtrip(spark, sf_dir).collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in out) == n_docs
    assert all(r["newlines_total"] > 0 for r in out)

    def unstaged(tmp):
        raise AssertionError("csv_multiline_roundtrip did not stage its CSV")

    path = stage_fixture(sf_dir, "documents_mlcsv", unstaged)
    raw_lines = 0
    n_files = 0
    for f in glob.glob(os.path.join(path, "*.csv")):
        n_files += 1
        with open(f, encoding="utf-8") as fh:
            raw_lines += sum(1 for _ in fh)
    # every embedded newline adds a physical line beyond record+header
    assert raw_lines > n_docs + n_files


def test_nanos_vintage_orders_lineitem_rescued(spark, tmp_path):
    """If the driver ever regenerates orders/lineitem with
    TIMESTAMP(NANOS) (as events.parquet once shipped), io.table must
    rescue the epoch-nanos bigint back to a timestamp so every date
    query keeps working — certified here by running a date-grouped
    aggregate against DuckDB on the same nanos files."""
    import datetime

    import duckdb
    import pandas as pd

    from fxblue_etl_spark.io import table

    orders = pd.DataFrame(
        [
            {
                "o_orderkey": k,
                "o_custkey": k % 5,
                "o_orderdate": datetime.datetime(2024, 4, 1 + k % 3, 12, 30),
                "o_totalprice": 100.0 + k,
            }
            for k in range(1, 31)
        ]
    )
    d = str(tmp_path)
    orders.to_parquet(f"{d}/orders.parquet")  # pandas default: nanos
    import pyarrow.parquet as pq

    assert "timestamp[ns]" in str(pq.read_schema(f"{d}/orders.parquet").field("o_orderdate").type)
    o = table(spark, d, "orders")
    assert dict(o.dtypes)["o_orderdate"].startswith("timestamp")
    from pyspark.sql import functions as F

    got = sorted(
        tuple(r)
        for r in o.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')")
    exp = sorted(
        map(tuple, con.sql("SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n FROM orders GROUP BY 1").fetchall())
    )
    assert got == exp
