"""S4 xlsx registry: stdlib reader/writer round-trip + edge cases."""

from __future__ import annotations

import zipfile

from hypothesis import given, settings
from hypothesis import strategies as st

from fxblue_etl_spark.sources.xlsx_registry import (
    read_xlsx,
    s4_xlsx_registry,
    write_xlsx,
    xlsx_registry_df,
)

_NS_DECL = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def test_write_read_roundtrip(tmp_path):
    p = str(tmp_path / "r.xlsx")
    header = ["id", "name", "ratio"]
    rows = [
        ["1", "alpha & <beta>", 0.5],
        ["2", None, 3],
        ["3", "éü\nnewline", -1.25],
    ]
    write_xlsx(p, header, rows)
    h, got = read_xlsx(p)
    assert h == header
    assert got == rows


def test_sparse_rows_and_trailing_gaps(tmp_path):
    p = str(tmp_path / "s.xlsx")
    write_xlsx(p, ["a", "b", "c"], [[None, "x", None], ["y", None, "z"]])
    _, got = read_xlsx(p)
    assert got == [[None, "x", None], ["y", None, "z"]]


def test_shared_strings_and_booleans(tmp_path):
    """Hand-built workbook using sharedStrings / t="b" / t="str" —
    the cell types our writer never emits but real producers do."""
    p = str(tmp_path / "ss.xlsx")
    write_xlsx(p, ["k"], [["placeholder"]])
    with zipfile.ZipFile(p, "a") as z:
        z.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0"?><sst {_NS_DECL}>'
            "<si><t>hello</t></si><si><r><t>wo</t></r><r><t>rld</t></r></si></sst>",
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {_NS_DECL}><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
            '<c r="C1" t="str"><v>formula</v></c><c r="D1" t="b"><v>1</v></c></row>'
            '<row r="2"><c r="B2"><v>42</v></c><c r="D2" t="b"><v>0</v></c></row>'
            "</sheetData></worksheet>",
        )
    h, rows = read_xlsx(p)
    assert h == ["hello", "world", "formula", "True"]
    assert rows == [[None, 42, None, False]]


def test_cells_without_refs(tmp_path):
    """Producers may omit r= attributes; cells then fill left-to-right."""
    p = str(tmp_path / "nr.xlsx")
    write_xlsx(p, ["a"], [])
    with zipfile.ZipFile(p, "a") as z:
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet {_NS_DECL}><sheetData>'
            "<row><c t=\"inlineStr\"><is><t>h1</t></is></c>"
            "<c t=\"inlineStr\"><is><t>h2</t></is></c></row>"
            "<row><c><v>1</v></c><c><v>2.5</v></c></row>"
            "</sheetData></worksheet>",
        )
    h, rows = read_xlsx(p)
    assert h == ["h1", "h2"]
    assert rows == [[1, 2.5]]


_cell = st.one_of(
    st.none(),
    st.integers(min_value=-(2**40), max_value=2**40),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs", "Cc")
        ),
        max_size=40,
    ),
)


@settings(max_examples=30, deadline=None)
@given(
    header=st.lists(
        st.text(
            alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    ),
    body=st.lists(st.lists(_cell, min_size=5, max_size=5), max_size=8),
)
def test_roundtrip_property(tmp_path_factory, header, body):
    """write_xlsx → read_xlsx is the identity on (header, rows) for
    arbitrary unicode / numeric / NULL cells (rows truncated/padded to
    header width, as a registry reader must)."""
    p = str(tmp_path_factory.mktemp("xl") / "prop.xlsx")
    rows = [r[: len(header)] for r in body]
    write_xlsx(p, header, rows)
    h, got = read_xlsx(p)
    assert h == header
    want = [r + [None] * (len(header) - len(r)) for r in rows]
    assert got == want


def test_registry_df_all_strings(spark, tmp_path):
    p = str(tmp_path / "df.xlsx")
    write_xlsx(p, ["account_id", "trade_win"], [["7", "55%"], ["8", None]])
    df = xlsx_registry_df(spark, p)
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert {tuple(r) for r in df.collect()} == {("7", "55%"), ("8", None)}


def test_s4_query_matches_fixture_shape(spark, sf_dir):
    out = s4_xlsx_registry(spark, sf_dir).collect()
    assert len(out) > 0
    by_id = {r["account_id"]: r for r in out}
    some = next(iter(by_id.values()))
    assert some["strategy_inferred"] is None
    # T4 cleaning applied on the post-xlsx values
    for r in out:
        uid = int(r["account_id"])
        if uid % 3 == 0:
            assert abs(r["trade_win"] - 0.55) < 1e-12
        elif uid % 3 == 1:
            assert r["trade_win"] is None
        else:
            assert abs(r["trade_win"] - 0.5) < 1e-12
