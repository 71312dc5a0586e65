"""The Arrow signature stage must be bit-identical to the JVM HOF
lineage (round-7 flip: ``dedup.USE_ARROW_SIGNATURES``) — on the
fixture corpus AND on an adversarial literal frame exercising the
whitespace/empty/short/duplicate edges where the two runtimes could
plausibly diverge."""

from __future__ import annotations

from fxblue_etl_spark.io import fan_out, table
from fxblue_etl_spark.operators.dedup import (
    _BAND_ROWS_SCHEMA,
    _band_rows_arrow_fn,
    minhash_band_rows,
    minhash_band_rows_hof,
)


def _canon(df):
    return sorted(
        (
            (r["doc_id"], tuple(r["shingles"]), r["band_idx"], r["band_sig"])
            for r in df.collect()
        ),
        # None-safe: null doc_id rows (passed through by both
        # lineages) sort after all numeric ids
        key=lambda t: (t[0] is None, t[0] or 0, t[1], t[2], t[3]),
    )


def test_arrow_equals_hof_on_fixture(spark, sf_dir):
    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    arrow = docs.mapInPandas(_band_rows_arrow_fn, _BAND_ROWS_SCHEMA)
    assert _canon(arrow) == _canon(minhash_band_rows_hof(docs))


def test_arrow_equals_hof_on_adversarial_frame(spark):
    rows = [
        (1, "  leading and trailing   \t\n  whitespace mix here  "),
        (2, "tabs\tbetween\ttokens\tand\tmore\ttokens"),
        (3, "exactly three tokens"),
        (4, "two tokens"),  # < 3 tokens: excluded
        (5, ""),  # empty: excluded
        (6, None),  # null: excluded
        (7, "MiXeD CaSe TOKENS normalize THE same WAY"),
        (8, "dup dup dup dup dup dup"),  # one distinct shingle
        (9, "a b c a b c a b c d"),  # repeated shingles
        (10, "newline\nseparated\ntokens\nwith\x0cformfeed\x0bvertical"),
        (11, "exactly three tokens"),  # exact dup of doc 3
        (12, "punct, stays! glued? to:tokens; here's more text now"),
        # Unicode casing/whitespace parity: Python str.lower() must
        # match Spark's lower(), and Python must NOT split on \xa0
        # (Java \s is ASCII-only — the _JAVA_WS_RE contract)
        (13, "İstanbul CASE test here İİİ okay done"),
        (14, "straße STRASSE ẞharp esszett test words here"),
        (15, "ΣΙΣΥΦΟΣ greek sigma ΟΔΥΣΣΕΥΣ test tokens here"),
        (16, "nbsp\xa0separated\xa0tokens maybe different split here"),
        (17, "ǅungla titlecase DŽ digraph test tokens here"),
        (18, "ffi ﬁ ligature ﬀ tokens FFI test here"),
        # null doc_id with valid text: the HOF lineage passes it
        # through with null doc_id — the Arrow path must too (a
        # nullable bigint batch surfaces as float64/NaN in pandas;
        # round-7 advice: NaN in the int output column failed the
        # Arrow cast and killed the task)
        (None, "null doc id with enough tokens here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrow = docs.mapInPandas(_band_rows_arrow_fn, _BAND_ROWS_SCHEMA)
    got = _canon(arrow)
    want = _canon(minhash_band_rows_hof(docs))
    assert got == want
    ids = {d for d, *_ in got}
    assert {4, 5, 6}.isdisjoint(ids) and {1, 2, 3, 11, 12} <= ids
    assert None in ids, "null-doc_id row must pass through, as in HOF"
    # exact-dup docs share every band signature
    by_doc = {}
    for d, _sh, bi, bs in got:
        by_doc.setdefault(d, {})[bi] = bs
    assert by_doc[3] == by_doc[11]


def test_jvm_locale_is_root_like(spark):
    """The Arrow/HOF bit-identity contract assumes a ROOT-like JVM
    default locale for case mapping (see USE_ARROW_SIGNATURES in
    operators/dedup.py): a Turkish/Azerbaijani-locale JVM maps I→ı
    in ``lower()`` while Python's str.lower() yields i, so the
    adversarial parity test would only pin parity for a host it
    doesn't run on.  Assert the assumption instead of assuming it."""
    lang = (
        spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
    )
    assert lang not in ("tr", "az"), (
        f"JVM default locale '{lang}' breaks Arrow/HOF lower() parity "
        "on dotted/dotless I — pin -Duser.language= or set "
        "dedup.USE_ARROW_SIGNATURES = False"
    )


def test_default_dispatch_is_arrow(spark):
    docs = spark.createDataFrame(
        [(1, "three tokens minimum wanted")], "doc_id bigint, text string"
    )
    plan = (
        minhash_band_rows(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "MapInPandas" in plan


def test_arrow_path_survives_all_null_batch(spark):
    """A fully-null text batch surfaces as float NaN in pandas, not
    None — the worker must skip it, matching the HOF null filter."""
    docs = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id bigint, text string"
    )
    assert minhash_band_rows(docs).count() == 0
    assert minhash_band_rows_hof(docs).count() == 0


def _canon24(df):
    return sorted(
        ((r["doc_id"], tuple(r["sig"])) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1]),
    )


def test_scurve24_arrow_equals_hof_on_fixture(spark, sf_dir, monkeypatch):
    from fxblue_etl_spark.operators import dedup

    docs = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    arrow = dedup._scurve_sigs(docs)
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    hof = dedup._scurve_sigs(docs)
    got, want = _canon24(arrow), _canon24(hof)
    assert got == want
    assert got, "fixture must produce signatures"
    assert all(len(sig) == 24 for _d, sig in got)


def test_scurve24_arrow_equals_hof_on_adversarial_frame(spark, monkeypatch):
    from fxblue_etl_spark.operators import dedup

    rows = [
        (1, "  leading and trailing   \t\n  whitespace mix here  "),
        (2, "tabs\tbetween\ttokens\tand\tmore\ttokens"),
        (3, "exactly three tokens"),
        (4, "two tokens"),  # < 3 tokens: excluded
        (5, ""),  # empty: excluded
        (6, None),  # null: excluded
        (7, "MiXeD CaSe TOKENS normalize THE same WAY"),
        (8, "dup dup dup dup dup dup"),  # one distinct shingle
        (9, "a b c a b c a b c d"),  # repeated shingles
        (10, "newline\nseparated\ntokens\nwith\x0cformfeed\x0bvertical"),
        (11, "exactly three tokens"),  # exact dup of doc 3
        (16, "nbsp\xa0separated\xa0tokens maybe different split here"),
        (None, "null doc id with enough tokens here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrow = dedup._scurve_sigs(docs)
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    hof = dedup._scurve_sigs(docs)
    got, want = _canon24(arrow), _canon24(hof)
    assert got == want
    ids = {d for d, _s in got}
    assert {4, 5, 6}.isdisjoint(ids) and {1, 2, 3, 11} <= ids
    assert None in ids, "null-doc_id row must pass through, as in HOF"
    sig = dict(got)
    assert sig[3] == sig[11], "exact-dup docs share the signature"


def _canon_simham(df):
    return sorted(
        ((r["doc_id"], r["lo"], r["hi"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1], t[2]),
    )


def test_simham_arrow_equals_hof_on_fixture(spark, sf_dir, monkeypatch):
    from fxblue_etl_spark.operators import dedup

    arrow = dedup._simhash64_sigs(spark, sf_dir)
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    hof = dedup._simhash64_sigs(spark, sf_dir)
    got, want = _canon_simham(arrow), _canon_simham(hof)
    assert got == want
    assert got, "fixture must produce signatures"


def test_simham_arrow_equals_hof_on_adversarial_frame(
    spark, sf_dir, tmp_path, monkeypatch
):
    # _simhash64_sigs reads the documents table itself, so stage an
    # adversarial documents.parquet in a temp sf_dir
    rows = [
        (1, "  leading and trailing   \t\n  whitespace mix here  "),
        (2, "tabs\tbetween\ttokens"),
        (3, "one"),  # single token: INCLUDED (size > 0)
        (5, ""),  # empty: excluded
        (6, None),  # null: excluded
        (7, "MiXeD CaSe TOKENS normalize THE same WAY"),
        (8, "dup dup dup dup"),  # one distinct token
        (9, " \t\n "),  # whitespace-only: excluded
        (16, "nbsp\xa0glued\xa0token"),  # \xa0 is NOT Java \s
        (None, "null doc id with tokens"),
    ]
    from fxblue_etl_spark.operators import dedup

    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    arrow = dedup._simhash64_sigs(spark, str(tmp_path))
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    hof = dedup._simhash64_sigs(spark, str(tmp_path))
    got, want = _canon_simham(arrow), _canon_simham(hof)
    assert got == want
    ids = {d for d, *_ in got}
    assert {5, 6, 9}.isdisjoint(ids) and {1, 2, 3, 7, 8, 16} <= ids
    assert None in ids, "null-doc_id row must pass through, as in HOF"


def _canon_grams(df):
    return sorted(
        ((r["doc_id"], tuple(r["grams"]), r["sz"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0] or 0, t[1]),
    )


def test_grams3_arrow_equals_jvm_on_fixture(spark, sf_dir):
    from pyspark.sql import functions as F

    from fxblue_etl_spark.operators import dedup

    d = fan_out(table(spark, sf_dir, "documents").select("doc_id", "text"))
    arrow = d.mapInPandas(dedup._grams3_arrow_fn, dedup._GRAMS3_SCHEMA)
    jvm = (
        d.filter(
            F.size(dedup.ws_tokens(dedup._norm_text("text"))) >= 3
        )
        .select("doc_id", dedup.word_shingles("text", k=3).alias("grams"))
        .withColumn("sz", F.size("grams").cast("long"))
    )
    got, want = _canon_grams(arrow), _canon_grams(jvm)
    assert got == want
    assert got, "fixture must produce shingled docs"


def test_grams3_arrow_equals_jvm_on_adversarial_frame(spark):
    from pyspark.sql import functions as F

    from fxblue_etl_spark.operators import dedup

    rows = [
        (1, "  leading and trailing   \t\n  whitespace mix here  "),
        (3, "exactly three tokens"),
        (4, "two tokens"),  # < 3 tokens: excluded
        (5, ""),  # excluded
        (6, None),  # excluded
        (8, "dup dup dup dup dup dup"),  # one distinct shingle
        (9, "a b c a b c a b c d"),  # repeated shingles, order matters
        (16, "nbsp\xa0separated\xa0tokens maybe different split here"),
        (None, "null doc id with enough tokens here"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrow = d.mapInPandas(dedup._grams3_arrow_fn, dedup._GRAMS3_SCHEMA)
    jvm = (
        d.filter(
            F.size(dedup.ws_tokens(dedup._norm_text("text"))) >= 3
        )
        .select("doc_id", dedup.word_shingles("text", k=3).alias("grams"))
        .withColumn("sz", F.size("grams").cast("long"))
    )
    got, want = _canon_grams(arrow), _canon_grams(jvm)
    assert got == want
    ids = {d_ for d_, *_ in got}
    assert {4, 5, 6}.isdisjoint(ids) and {1, 3, 8, 9, 16} <= ids
    assert None in ids


def test_bigram_blocked_arrow_equals_jvm(spark, sf_dir, tmp_path, monkeypatch):
    from fxblue_etl_spark.operators import dedup

    def canon(df):
        return sorted(
            (
                (r["doc_id"], r["block_lang"], r["block_tok"], tuple(r["grams"]))
                for r in df.collect()
            ),
            key=lambda t: (t[0] is None, t[0] or 0, t[1] or "", t[2]),
        )

    # fixture parity
    arrow = dedup._bigram_blocked(spark, sf_dir)
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    jvm = dedup._bigram_blocked(spark, sf_dir)
    got, want = canon(arrow), canon(jvm)
    assert got == want and got
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", True)

    # adversarial parity (incl. null lang, 1-token and empty docs)
    rows = [
        (1, "en", "two tokens here and more"),
        (2, None, "null lang tokens"),
        (3, "de", "one"),  # < 2 tokens: excluded
        (4, "fr", ""),  # excluded
        (5, "es", None),  # excluded
        (6, "en", "DUP dup DUP dup"),  # case-folds to repeated bigrams
        (None, "en", "null doc id tokens"),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    arrow = dedup._bigram_blocked(spark, str(tmp_path))
    monkeypatch.setattr(dedup, "USE_ARROW_SIGNATURES", False)
    jvm = dedup._bigram_blocked(spark, str(tmp_path))
    got, want = canon(arrow), canon(jvm)
    assert got == want
    ids = {d for d, *_ in got}
    assert {3, 4, 5}.isdisjoint(ids) and {1, 2, 6} <= ids and None in ids
