"""S4: the account-registry *Excel* read path.

The reference pulls a registry workbook and loads it with
``pd.read_excel`` (``RSS PARSER/gcp_rss.py:24-28``). Round 1 stood in
a fixture table for this; here the xlsx parse is real:

- ``read_xlsx`` prefers ``pandas.read_excel`` when an engine
  (openpyxl) is importable, and otherwise parses the workbook with
  the stdlib only — xlsx is a zip of XML, so ``zipfile`` +
  ``xml.etree`` cover the registry shape (inline/shared strings,
  numbers, gaps) without any dependency.
- ``write_xlsx`` is the matching minimal writer, used to build the
  test fixture so the round-trip is oracle-checked end to end.

Scale posture: the registry is a single small workbook (the
reference's is one file in a bucket), so it is read ONCE driver-side
into a DataFrame and then *broadcast* against the fact tables — the
correct plan for a sub-MB dimension. Fact-sized data never goes
through this path.
"""

from __future__ import annotations

import os
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import stage_fixture, table

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="registry" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WORKBOOK_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _col_letter(idx: int) -> str:
    """0-based column index → A1-style letters."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal single-sheet xlsx writer (inline strings; numbers kept
    numeric). Fixture-generation only — the certified path is reading."""
    cells_xml = []
    for r, row in enumerate([header, *rows]):
        cs = []
        for c, v in enumerate(row):
            ref = f"{_col_letter(c)}{r + 1}"
            if v is None:
                continue
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cs.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cs.append(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{escape(str(v))}</t></is></c>"
                )
        cells_xml.append(f'<row r="{r + 1}">{"".join(cs)}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(cells_xml)}</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _ROOT_RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _cell_col(ref: str) -> int:
    """'BC7' → 0-based column 54."""
    letters = re.match(r"[A-Z]+", ref).group(0)
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _read_xlsx_stdlib(path: str) -> tuple[list[str], list[list]]:
    """Parse sheet1 of an xlsx with zipfile + ElementTree: handles
    shared strings (t="s"), inline strings (t="inlineStr"), booleans
    (t="b"), numbers, and sparse rows (missing cells → None)."""
    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sroot = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sroot.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
        raw_rows: list[list] = []
        for row in root.iter(f"{_NS}row"):
            cells: list = []
            next_col = 0
            for c in row.iter(f"{_NS}c"):
                col = _cell_col(c.get("r")) if c.get("r") else next_col
                while len(cells) < col:
                    cells.append(None)
                t = c.get("t", "n")
                if t == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    val = (
                        "".join(x.text or "" for x in is_el.iter(f"{_NS}t"))
                        if is_el is not None
                        else None
                    )
                else:
                    v = c.find(f"{_NS}v")
                    if v is None or v.text is None:
                        val = None
                    elif t == "s":
                        val = shared[int(v.text)]
                    elif t == "b":
                        val = v.text == "1"
                    elif t == "str":
                        val = v.text
                    else:
                        f_val = float(v.text)
                        val = int(f_val) if f_val.is_integer() else f_val
                cells.append(val)
                next_col = col + 1
            raw_rows.append(cells)
    if not raw_rows:
        return [], []
    header = [str(h) for h in raw_rows[0]]
    width = len(header)
    body = [r[:width] + [None] * (width - len(r)) for r in raw_rows[1:]]
    return header, body


def read_xlsx(path: str) -> tuple[list[str], list[list]]:
    """Registry workbook → (header, rows). Uses pandas.read_excel when
    an xlsx engine is installed (reference parity: gcp_rss.py:28),
    else the stdlib parser — identical output either way."""
    try:
        import pandas as pd

        df = pd.read_excel(path)  # needs openpyxl
        return [str(c) for c in df.columns], [
            [None if pd.isna(v) else v for v in row] for row in df.itertuples(index=False)
        ]
    except ImportError:
        return _read_xlsx_stdlib(path)


def xlsx_registry_df(spark: SparkSession, path: str) -> DataFrame:
    """Workbook → all-string registry DataFrame (raw registry values
    are strings pre-cleaning, matching the CSV/RSS raw layers). Small
    single-file dimension: created driver-side, broadcast downstream."""
    header, rows = read_xlsx(path)
    str_rows = [
        [None if v is None else str(v) for v in r] for r in rows
    ]
    return spark.createDataFrame(str_rows, schema=", ".join(f"`{h}` string" for h in header))


def _fixture_xlsx(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic registry workbook derived from the events table
    (same rows as rss_feed._synthetic_accounts). Driver-side fixture
    *generation* — stands in for the workbook that already exists in
    the reference's bucket; the certified operator is the read-back."""
    from .rss_feed import _synthetic_accounts

    cols = ["account_id", "account_url", "rss_url", "trade_win", "total_return", "trades_per_day"]

    def build(tmp: str) -> None:
        rows = [
            [r[c] for c in cols]
            for r in sorted(
                _synthetic_accounts(spark, sf_dir).collect(),
                key=lambda r: int(r["account_id"]),
            )
        ]
        os.makedirs(tmp)
        write_xlsx(os.path.join(tmp, "registry.xlsx"), cols, rows)

    return os.path.join(stage_fixture(sf_dir, "registry", build), "registry.xlsx")


def s4_xlsx_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 end-to-end with a REAL xlsx parse: workbook → raw registry →
    T4 cleaning → account_metadata rows (gcp_rss.py:24-28,50-80). The
    oracle recomputes the same rows straight from events, so any
    mangling in the write→read round-trip breaks the hash."""
    from .rss_feed import account_metadata

    path = _fixture_xlsx(spark, sf_dir)
    return account_metadata(xlsx_registry_df(spark, path))


S4_XLSX_ORACLE = """
WITH syn_accounts AS (
  SELECT CAST(user_id AS VARCHAR) AS account_id,
         'https://fxblue/u' || CAST(user_id AS VARCHAR) AS account_url,
         'https://fxblue/feed/u' || CAST(user_id AS VARCHAR) AS rss_url,
         CASE WHEN user_id % 3 = 0 THEN '55%'
              WHEN user_id % 3 = 1 THEN '-'
              ELSE '0.5' END AS trade_win,
         '12.5%' AS total_return,
         CAST(user_id % 10 AS VARCHAR) AS trades_per_day
  FROM (SELECT DISTINCT user_id FROM events))
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
    "s4_xlsx_registry": s4_xlsx_registry,
}

ORACLES = {
    "s4_xlsx_registry": S4_XLSX_ORACLE,
}
