"""FXBlue CSV source + ingest pipeline (SURVEY §2.1 S1-S3, §3.1, M3).

The reference lists GCS blobs, downloads each, and parses with
``pd.read_csv(skiprows=1)`` because FXBlue exports carry a non-header
title line (`CSV PARSER/gcp_csv.py:75-76`). OSS Spark's CSV reader has
no per-file skip-rows, so the scan reads whole files and parses them
with Catalyst expressions:

1. ``spark.read.text(glob, wholetext=True)`` — one row per file, with
   distributed listing and IO exactly like any multi-file scan (S1's
   thread pool disappears into the scheduler).
2. ``parse_fxblue_files`` — per file: split records on CRLF, CR or LF,
   drop the title line (S2) and blank or whitespace-only lines, take
   the first record as the header, stamp ``account_id`` from the
   filename (S3, `gcp_csv.py:79-80`) and apply the file-level gates:
   a file missing a required column (F1, `gcp_csv.py:107-119`) or one
   pandas' parser would reject (F5: no header, a record wider than the
   header) yields zero rows, the reference's log-and-skip
   (`gcp_csv.py:117-119,197-198`). The surviving records are exploded
   one row each and only then split into fields — on ``,`` directly,
   or through the RFC-4180 quote-aware tokenizer when the record holds
   a ``"`` — and each known column is picked by its header position.
   Fields equal to one of pandas' default NA tokens become NULL.

No Python worker runs on this path, so a batch pays no per-task worker
start-up (about 0.05 CPU s a task on a 4-core host, see
``session._cache_zip_directories``).

Deliberate divergences from ``pd.read_csv``, documented in SURVEY §1.5
next to the ``setdefault`` one (§1.4); both skip the file as an F5
failure:

* a quoted field holding a line break (records are split on line
  breaks before fields are, so the field's quote is left unclosed);
* pandas' implicit index column: a first data row one field wider than
  the header (say, a trailing comma on every row) makes pandas shift
  every column; here it is a record wider than its header.

Scale notes: FXBlue exports are per-account files (thousands of small
files, not one huge file), so file-granular parallelism is the right
unit; wholetext is bounded by the largest single export. For
monolithic CSVs the plain ``spark.read.csv`` path (no title row)
applies instead. Everything after the scan is native Catalyst (the M1
expression chain), one lazy plan to the merge.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import stage_fixture, table
from ..session import tune
from ..operators import cleaning as C

#: raw FXBlue columns (pre-rename) surfaced from the CSV text — all
#: strings at this stage; typing happens in the Catalyst chain below
RAW_FIELDS = [
    ("Ticket", "string"),
    ("Symbol", "string"),
    ("Buy/sell", "string"),
    ("Open price", "string"),
    ("Close price", "string"),
    ("Open time", "string"),
    ("Lots", "string"),
    ("Profit", "string"),
    ("Net profit", "string"),
]

_RAW_SCHEMA = T.StructType(
    [T.StructField("account_id", T.StringType())]
    + [
        T.StructField(name.replace("/", "_").replace(" ", "_").lower(), T.StringType())
        for name, _ in RAW_FIELDS
    ]
)

#: raw header → struct field name used by the parse
_FIELD_OF = {
    name: name.replace("/", "_").replace(" ", "_").lower() for name, _ in RAW_FIELDS
}

#: F1 gate in raw-header terms (gcp_csv.py:108-116 checks post-rename;
#: equivalent pre-rename set)
REQUIRED_RAW = ("Open time", "Symbol", "Buy/sell", "Open price", "Close price", "Lots", "Profit")

#: pandas' default NA tokens (``pandas._libs.parsers.STR_NA_VALUES``); a
#: field equal to one, quoted or not, parses to NULL
NA_TOKENS = (
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan", "1.#IND",
    "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None", "n/a", "nan", "null",
)

# One field of a record, as a Java regex: RFC-4180 quoted (``""`` escapes
# a quote; text after the closing quote is kept as plain text, ``""``
# included, as pandas keeps it) or bare. The quoted body is an unrolled
# loop, which costs java.util.regex no stack per character of a long
# field. A record is prefixed with ',' so that every field match starts
# with one and none is empty.
_BODY = '[^"]*(?:""[^"]*)*'
_QUOTED = f'"{_BODY}"(?!")[^,]*'
_TOKENS = f"regexp_extract_all(concat(',', {{r}}), ',({_QUOTED}|[^,]*)', 1)"


def _fields(r: str) -> str:
    """SQL: record ``r`` → its unquoted fields; the quote-aware
    tokenizer runs only on records that hold a quote."""
    unquote = (
        f"""CASE WHEN f LIKE '"%' THEN concat(replace(regexp_extract(f, '^"({_BODY})"', 1), '""', '"'), """
        f"""regexp_replace(f, '^"{_BODY}"', '')) ELSE f END"""
    )
    return (
        f"""CASE WHEN {r} LIKE '%"%' THEN transform({_TOKENS.format(r=r)}, f -> {unquote}) """
        f"ELSE split({r}, ',', -1) END"
    )


def _closed(r: str) -> str:
    """SQL: every quote-opened field of record ``r`` is closed on its
    own line (a field the tokenizer could not match as quoted is left
    starting with its opening quote)."""
    return (
        f"""({r} NOT LIKE '%"%' OR forall({_TOKENS.format(r=r)}, """
        f"""f -> f NOT LIKE '"%' OR f RLIKE '^{_QUOTED}$'))"""
    )


def _width(r: str) -> str:
    """SQL: the number of fields in record ``r``."""
    return (
        f"""CASE WHEN {r} LIKE '%"%' THEN size({_TOKENS.format(r=r)}) """
        f"ELSE length({r}) - length(replace({r}, ',', '')) + 1 END"
    )


def parse_fxblue_files(files: DataFrame) -> DataFrame:
    """S2+S3+F1+F5 over ``(path, content)`` rows, one per FXBlue export:
    the raw string columns of ``_RAW_SCHEMA``, one row per data record,
    the same rows ``pd.read_csv(content, skiprows=1, dtype=str)`` gives
    but for the divergences in the module docstring."""
    na = ", ".join(f"'{t}'" for t in NA_TOKENS)
    required = ", ".join(f"'{c}'" for c in REQUIRED_RAW)
    pos = [f"p{i}" for i in range(len(RAW_FIELDS))]
    per_file = files.selectExpr(
        # basename up to '.csv'; element_at keeps the column nullable, as
        # the pandas parse declared it
        "substring_index(element_at(split(path, '/'), -1), '.csv', 1) AS account_id",
        r"filter(split(content, '\\r\\n|\\r|\\n', -1), (r, i) -> i > 0 AND r NOT RLIKE '^[ \\t]*$') AS recs",
    ).selectExpr(
        "account_id",
        f"{_fields('get(recs, 0)')} AS head",
        "slice(recs, 2, size(recs)) AS body",
        f"forall(recs, r -> {_closed('r')}) AS closed",
    ).selectExpr(
        "account_id",
        *[f"array_position(head, '{name}') AS {p}" for p, (name, _) in zip(pos, RAW_FIELDS)],
        "body",
        f"closed AND forall(array({required}), c -> array_contains(head, c)) "  # F1
        f"AND forall(body, r -> {_width('r')} <= size(head)) AS ok",  # F5
    )
    # The gates act through the generator, not a Filter: the optimizer
    # would push a Filter below the projections and re-derive the header
    # inside the per-record check, once per record.
    records = per_file.selectExpr("account_id", *pos, "explode(IF(ok, body, NULL)) AS r")
    split = records.selectExpr("account_id", *pos, f"{_fields('r')} AS f")
    return split.selectExpr(
        "account_id",
        *[
            f"CASE WHEN get(f, {p} - 1) IN ({na}) THEN NULL ELSE get(f, {p} - 1) END AS {_FIELD_OF[name]}"
            for p, (name, _) in zip(pos, RAW_FIELDS)
        ],
    )


#: Hadoop glob metacharacters
_GLOB = re.compile(r"[*?\[{]")


def read_fxblue_csv(spark: SparkSession, path_glob: str) -> DataFrame:
    """S1+S2+S3+F1: distributed scan of FXBlue CSVs (title-row skip,
    account_id from filename, per-file required-column gate).

    A glob in the last path component (``exports/*.csv``) is read as its
    folder with a ``pathGlobFilter``: the same files and
    ``input_file_name()`` paths for a flat export folder. A folder read
    also lists subfolders, so matching files nested there are read too,
    as the reference's prefix listing reads every blob under the prefix,
    and a folder with no match reads as no files instead of raising
    ``PATH_NOT_FOUND``."""
    tune(spark)
    reader = spark.read
    folder, name = os.path.split(path_glob)
    if folder and _GLOB.search(name) and not _GLOB.search(folder):
        # handed a glob, the file reader's metadata probe stats it as a
        # literal path and logs a FileNotFoundException at WARN
        reader, path_glob = reader.option("pathGlobFilter", name), folder
    files = reader.text(path_glob, wholetext=True).select(
        F.input_file_name().alias("path"), F.col("value").alias("content")
    )
    return parse_fxblue_files(files)


def normalize_trades(raw: DataFrame) -> DataFrame:
    """§3.1 steps 5-6 as one Catalyst chain: rename → ISO timestamp →
    numeric coercion → gpt NULL-defaults → composite-key dedup. The
    renames, the T1/T2 casts, the P3 placeholders and the T7 dedup key
    are one projection, built as SQL text."""
    ticket = "try_cast(ticket AS long)"  # int(r['Ticket']), gcp_csv.py:166
    timestamp = C.iso_timestamp_sql("open_time")
    num = C.coerce_numeric_sql
    df = raw.selectExpr(
        f"{ticket} AS ticket",
        "account_id",
        "symbol",
        "buy_sell AS trade_type",
        f"{num('open_price')} AS entry_price",
        f"{num('close_price')} AS exit_price",
        f"{timestamp} AS `timestamp`",
        f"{num('lots')} AS lot_size",
        f"{num('profit')} AS pnl",
        f"{num('net_profit')} AS net_profit",
        *[f"CAST(NULL AS {t}) AS {c}" for c, t in C.GPT_PLACEHOLDER_COLS.items()],
        f"{C.row_hash_sql('account_id', f'CAST({ticket} AS string)', timestamp)} AS row_hash",
    )
    return C.dedup_by_key(df, ["row_hash"], order_by=[F.asc("ticket")]).drop("row_hash")


def ingest_fxblue_dir(spark: SparkSession, path_glob: str) -> DataFrame:
    """Full CSV ingest: scan → normalize. Feed the result to
    operators.merge.merge_upsert(old, new, ['ticket'],
    preserve_cols=GPT_PLACEHOLDER_COLS) for the K1 sink."""
    return normalize_trades(read_fxblue_csv(spark, path_glob))


# ── deterministic CSV fixture generation (for the oracle query) ──────────

def materialize_fixture_csvs(sf_dir: str) -> str:
    """Stage FXBlue-shaped CSVs derived from the orders parquet: one
    file per (o_orderkey % 8) with a title row, plus one file missing
    a required column (must be gate-skipped). Built once per fixture
    (``io.stage_fixture``); returns the directory."""
    import pandas as pd
    import pyarrow.parquet as pq

    def build(out_dir: str) -> None:
        os.makedirs(out_dir)
        orders = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
        orders["acct"] = orders["o_orderkey"] % 8
        for acct, grp in orders.groupby("acct"):
            rows = pd.DataFrame(
                {
                    "Ticket": grp["o_orderkey"],
                    "Symbol": "EURUSD",
                    "Buy/sell": grp["o_orderstatus"].map({"O": "Buy"}).fillna("Sell"),
                    "Open price": (grp["o_orderkey"] % 1000).astype(str),
                    "Close price": (grp["o_orderkey"] % 997).astype(str),
                    "Open time": grp["o_orderdate"].dt.strftime("%Y-%m-%d %H:%M:%S"),
                    "Lots": (grp["o_orderkey"] % 10).astype(str),
                    "Profit": grp["o_totalprice"].map("{:.2f}".format),
                }
            ).sort_values("Ticket")
            with open(os.path.join(out_dir, f"acct_{acct}.csv"), "w") as f:
                f.write("FXBlue trade history export\n")
                rows.to_csv(f, index=False)
        # a file failing the F1 gate: no 'Open time' column
        with open(os.path.join(out_dir, "acct_bad.csv"), "w") as f:
            f.write("FXBlue trade history export\nTicket,Symbol\n1,EURUSD\n")

    return stage_fixture(sf_dir, "fxblue_csv", build)


def s2_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CSV ingest over real files (title-row skip, filename
    account_id, F1 gate dropping the bad file) — oracle recomputes the
    same result relationally from orders."""
    out_dir = materialize_fixture_csvs(sf_dir)
    df = ingest_fxblue_dir(spark, os.path.join(out_dir, "*.csv"))
    return df.select(
        "ticket", "account_id", "symbol", "trade_type", "entry_price",
        "exit_price", "timestamp", "lot_size", "pnl", "net_profit",
        "gpt_inferred_strategy",
    )


S2_ORACLE = """
SELECT o_orderkey AS ticket,
       'acct_' || CAST(o_orderkey % 8 AS VARCHAR) AS account_id,
       'EURUSD' AS symbol,
       CASE WHEN o_orderstatus = 'O' THEN 'Buy' ELSE 'Sell' END AS trade_type,
       CAST(o_orderkey % 1000 AS DOUBLE) AS entry_price,
       CAST(o_orderkey % 997 AS DOUBLE) AS exit_price,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS "timestamp",
       CAST(o_orderkey % 10 AS DOUBLE) AS lot_size,
       TRY_CAST(printf('%.2f', o_totalprice) AS DOUBLE) AS pnl,
       CAST(NULL AS DOUBLE) AS net_profit,
       CAST(NULL AS VARCHAR) AS gpt_inferred_strategy
FROM orders
"""


def csv_multiline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-embedded-newline CSV roundtrip: documents get literal
    newlines injected into their text, go through Spark's CSV writer
    (which quotes the field), and come back through
    ``multiLine=true`` + RFC-4180 quote-escape — certifying the
    parser reassembles records across physical lines.  The oracle
    computes the identical per-language aggregate from the ORIGINAL
    table, so any mis-split (a row broken at an embedded newline, a
    quote swallowed) diverges in n_docs or the md5 checksum.

    Scale note (the reason this is on the surface): ``multiLine``
    CSV files are UNSPLITTABLE — one task per file regardless of
    size.  At 100 TB the layout answer is many bounded files (the
    writer here shards by the session's write parallelism); the
    single-line fast path (`s2_csv_ingest`) stays the default.

    ``escape='"'`` on BOTH writer and reader: Spark's CSV default
    escape is backslash (non-RFC); pinning quote-doubling makes the
    file readable by any RFC-4180 parser, including DuckDB's.

    Reference parity: the reference parses CSV via pandas
    (`CSV PARSER/gcp_csv.py:76`), which handles quoted newlines —
    this keeps that capability in the Spark restatement."""
    tune(spark)
    d = table(spark, sf_dir, "documents")
    txt = F.expr("replace(text, ' line ', concat(chr(10), 'line', chr(10)))")
    path = stage_fixture(
        sf_dir,
        "documents_mlcsv",
        lambda tmp: d.select("doc_id", "lang", txt.alias("txt"))
        .write.mode("overwrite")
        .options(header=True, escape='"')
        .csv(tmp),
    )
    back = spark.read.options(header=True, multiLine=True, escape='"').csv(path)
    h8 = F.conv(F.substring(F.md5("txt"), 1, 8), 16, 10).cast("long")
    nl = F.length("txt") - F.length(F.regexp_replace("txt", "\n", ""))
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("txt")).cast("long").alias("chars_total"),
        F.sum(nl).cast("long").alias("newlines_total"),
        F.sum(h8).cast("long").alias("text_md5_sum"),
    )


_ML_HEX8 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(txt), {1 + k}, 1)) - 1) * {16 ** (7 - k)}"
    for k in range(8)
)

CSV_MULTILINE_ORACLE = f"""
WITH t AS (
  SELECT lang,
         replace(text, ' line ', chr(10) || 'line' || chr(10)) AS txt
  FROM documents)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(length(txt)) AS BIGINT) AS chars_total,
       CAST(sum(length(txt) - length(replace(txt, chr(10), ''))) AS BIGINT)
         AS newlines_total,
       CAST(sum({_ML_HEX8}) AS BIGINT) AS text_md5_sum
FROM t
GROUP BY 1
"""


QUERIES = {
    "s2_csv_ingest": s2_csv_ingest,
    "csv_multiline_roundtrip": csv_multiline_roundtrip,
}
ORACLES = {
    "s2_csv_ingest": S2_ORACLE,
    "csv_multiline_roundtrip": CSV_MULTILINE_ORACLE,
}
