"""Unit tests for cleaning operators on tiny literal DataFrames
(SURVEY §5.2 — edge cases straight from the reference's code)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.operators import cleaning as C


def test_pct_to_ratio_reference_cases(spark):
    # gcp_rss.py:54-59: '12%'→0.12, '-'→None, '0.5'→0.5, NaN→None
    df = spark.createDataFrame(
        [("12%",), ("-",), ("0.5",), (None,), ("62.5%",)], ["v"]
    )
    out = [r.r for r in df.select(C.pct_to_ratio("v").alias("r")).collect()]
    assert out == [0.12, None, 0.5, None, 0.625]


def test_coerce_numeric_invalid_to_null(spark):
    df = spark.createDataFrame([("1.5",), ("abc",), ("",), (None,)], ["v"])
    out = [r.r for r in df.select(C.coerce_numeric("v").alias("r")).collect()]
    assert out == [1.5, None, None, None]


def test_parse_rss_timestamp(spark):
    # gcp_rss.py:31-37 format; unparseable → None
    df = spark.createDataFrame(
        [("Thu 21 Mar 2019 09:00:11",), ("garbage",), (None,)], ["v"]
    )
    out = df.select(
        F.date_format(C.parse_rss_timestamp("v"), C.ISO_FMT).alias("r")
    ).collect()
    assert out[0].r == "2019-03-21T09:00:11"
    assert out[1].r is None
    assert out[2].r is None


def test_sentinel_null_epoch_and_zero(spark):
    # gcp_rss.py:104-105 (epoch close_time), :110-111 ('0' tp/sl), empty
    df = spark.createDataFrame(
        [(C.EPOCH_SENTINEL,), ("Thu 21 Mar 2019 09:00:11",), ("0",), ("",)], ["v"]
    )
    out = [
        r.r
        for r in df.select(
            C.null_if_sentinel("v", C.EPOCH_SENTINEL, "0").alias("r")
        ).collect()
    ]
    assert out == [None, "Thu 21 Mar 2019 09:00:11", None, None]


def test_basename_account_id(spark):
    df = spark.createDataFrame(
        [("gs://b/testcsvs/12345.csv",), ("plain.csv",), ("no_ext",)], ["p"]
    )
    out = [r.r for r in df.select(C.basename_account_id("p").alias("r")).collect()]
    assert out == ["12345", "plain", ""]


def test_row_hash_matches_reference_md5(spark):
    # gcp_csv.py:151-153: md5(f"{account_id}{Ticket}{timestamp}")
    import hashlib

    expected = hashlib.md5("acct1100.5ts".encode()).hexdigest()
    df = spark.createDataFrame([("acct1", "100.5", "ts")], ["a", "t", "s"])
    out = df.select(C.row_hash("a", "t", "s").alias("h")).collect()[0].h
    assert out == expected


def test_with_null_defaults_only_missing(spark):
    df = spark.createDataFrame([(1, "x")], ["ticket", "gpt_inferred_strategy"])
    out = C.with_null_defaults(df, C.GPT_PLACEHOLDER_COLS)
    assert set(C.GPT_PLACEHOLDER_COLS) <= set(out.columns)
    row = out.collect()[0]
    assert row.gpt_inferred_strategy == "x"  # present col untouched
    assert row.gpt_strategy_confidence is None


def test_rename_ignores_missing_sources(spark):
    df = spark.createDataFrame([(1, 2.0)], ["Ticket", "Profit"])
    out = C.rename_columns(df, C.FXBLUE_RENAMES)
    assert out.columns == ["ticket", "pnl"]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b"), ("j", 9, "z")],
        ["key", "ord", "val"],
    )
    out = C.dedup_by_key(df, ["key"], order_by=[F.asc("ord")]).collect()
    got = {r.key: r.val for r in out}
    assert got == {"k": "a", "j": "z"}


def test_aes_roundtrip_is_total_and_padded(spark, sf_dir):
    """Every document must decrypt back byte-identically and the
    ciphertext length must follow PKCS#7 exactly."""
    from fxblue_etl_spark.operators.cleaning import aes_column_roundtrip

    rows = aes_column_roundtrip(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_roundtrip_ok"] == r["n_docs"]
        assert r["cipher_bytes"] % 16 == 0
        assert r["cipher_bytes"] > 0


def test_formatted_number_parse_matches_integer_arithmetic(spark, sf_dir):
    from fxblue_etl_spark.operators.cleaning import formatted_number_parse

    for r in formatted_number_parse(spark, sf_dir).collect():
        k = r["c_custkey"]
        assert r["amount_cents"] == (k % 9 + 1) * 100000 + (k % 1000) * 100 + k % 100


def test_aes_oracle_pads_over_utf8_bytes(spark, tmp_path):
    """Multi-byte text: ciphertext pads over UTF-8 BYTE length, and
    the DuckDB oracle must agree (octet_length, not char length —
    round-4 advice).  'é' is 2 bytes, '漢' is 3: char-length padding
    would predict a shorter ciphertext and diverge."""
    import duckdb
    import pandas as pd

    from fxblue_etl_spark.operators.cleaning import (
        AES_ROUNDTRIP_ORACLE,
        aes_column_roundtrip,
    )

    docs = [
        {"doc_id": 1, "lang": "fr", "text": "héllo café crème brûlée"},
        {"doc_id": 2, "lang": "zh", "text": "漢字テスト" * 7},
        {"doc_id": 3, "lang": "en", "text": "plain ascii control row"},
        # 15 ascii chars + one 3-byte char: crosses a block boundary
        # only under byte-padding
        {"doc_id": 4, "lang": "mx", "text": "a" * 15 + "漢"},
    ]
    d = str(tmp_path)
    pd.DataFrame(docs).to_parquet(f"{d}/documents.parquet")
    got = sorted(tuple(r) for r in aes_column_roundtrip(spark, d).collect())
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    exp = sorted(map(tuple, con.sql(AES_ROUNDTRIP_ORACLE).fetchall()))
    assert got == exp
    by_lang = {r[0]: r for r in got}
    # 16 ascii + utf8 bytes 18 -> two blocks (32); char padding would say 16+16=32 too..
    # mx: 15 ascii + 3 bytes = 18 bytes -> pad to 32; 16 CHARS would pad to 32 as well,
    # but fr: 23 chars -> char-pad 32; 26 bytes -> byte-pad 32 (equal); zh: 35 chars
    # -> char-pad 48; 105 bytes -> byte-pad 112.  The zh row is the discriminating one.
    assert by_lang["zh"][3] == 112


def test_iso_timestamp_reference_cases(spark):
    # gcp_csv.py:102-105: parse, emit '%Y-%m-%dT%H:%M:%S'; unparseable → None
    df = spark.createDataFrame([("2019-03-21 09:00:11",), ("bad-time",), (None,)], ["v"])
    out = [r.r for r in df.select(C.iso_timestamp("v").alias("r")).collect()]
    assert out == ["2019-03-21T09:00:11", None, None]
