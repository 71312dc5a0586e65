"""Each text-signature Arrow kernel in ``operators/dedup.py`` must be
bit-identical to its JVM expression reference — on the fixture corpus
AND on one adversarial literal frame exercising the whitespace/empty/
short/duplicate/Unicode edges where the two runtimes could plausibly
diverge."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from fxblue_etl_spark.io import fan_out, table
from fxblue_etl_spark.operators import dedup

#: (kernel, output schema, JVM reference, input columns); a kernel
#: without a schema is the operator that runs it, called on the docs
KERNELS = {
    "band_rows": (
        dedup.minhash_band_rows,
        None,
        dedup.minhash_band_rows_hof,
        ("doc_id", "text"),
    ),
    "bigram_blocked": (
        dedup._bigram_blocked_arrow_fn,
        dedup._BIGRAM_BLOCKED_SCHEMA,
        dedup.bigram_blocked_hof,
        ("doc_id", "lang", "text"),
    ),
    "grams3": (
        dedup._grams3_arrow_fn,
        dedup._GRAMS3_SCHEMA,
        dedup.grams3_hof,
        ("doc_id", "text"),
    ),
    "scurve24": (
        dedup._scurve_sigs_arrow_fn,
        dedup._SCURVE_SIG_SCHEMA,
        dedup.scurve_sigs_hof,
        ("doc_id", "text"),
    ),
    "simham": (
        dedup._simham_sigs_arrow_fn,
        dedup._SIMHAM_SIG_SCHEMA,
        dedup.simham_sigs_hof,
        ("doc_id", "text"),
    ),
}

ADVERSARIAL = [
    (1, "en", "  leading and trailing   \t\n  whitespace mix here  "),
    (2, "en", "tabs\tbetween\ttokens\tand\tmore\ttokens"),
    (3, "en", "exactly three tokens"),
    (4, "en", "two tokens"),  # < 3 tokens
    (5, "en", ""),  # empty: excluded everywhere
    (6, "en", None),  # null: excluded everywhere
    (7, "en", "MiXeD CaSe TOKENS normalize THE same WAY"),
    (8, "en", "dup dup dup dup dup dup"),  # one distinct shingle
    (9, "en", "a b c a b c a b c d"),  # repeated shingles, order matters
    (10, "en", "newline\nseparated\ntokens\nwith\x0cformfeed\x0bvertical"),
    (11, "en", "exactly three tokens"),  # exact dup of doc 3
    (12, "en", "punct, stays! glued? to:tokens; here's more text now"),
    # Unicode casing/whitespace parity: Python str.lower() must match
    # Spark's lower(), and Python must NOT split on \xa0 (Java \s is
    # ASCII-only — the _JAVA_WS_RE contract)
    (13, "en", "İstanbul CASE test here İİİ okay done"),
    (14, "en", "straße STRASSE ẞharp esszett test words here"),
    (15, "en", "ΣΙΣΥΦΟΣ greek sigma ΟΔΥΣΣΕΥΣ test tokens here"),
    (16, "en", "nbsp\xa0separated\xa0tokens maybe different split here"),
    (17, "en", "ǅungla titlecase DŽ digraph test tokens here"),
    (18, "en", "ffi ﬁ ligature ﬀ tokens FFI test here"),
    (21, "en", "tabs\tbetween\ttokens"),
    (22, "en", "one"),  # single token
    (23, "en", "dup dup dup dup"),  # one distinct token
    (24, "en", " \t\n "),  # whitespace-only: excluded everywhere
    (25, "en", "nbsp\xa0glued\xa0token"),  # \xa0 is NOT Java \s
    (31, "en", "two tokens here and more"),
    (32, None, "null lang tokens"),
    (33, "de", "one"),
    (34, "fr", ""),
    (35, "es", None),
    (36, "en", "DUP dup DUP dup"),  # case-folds to repeated bigrams
    # null doc_id with valid text: the reference passes it through
    # with null doc_id — the kernel must too (a nullable bigint batch
    # surfaces as float64/NaN in pandas; round-7 advice: NaN in the
    # int output column failed the Arrow cast and killed the task)
    (None, "en", "null doc id with enough tokens here"),
    (None, "en", "null doc id with tokens"),
    (None, "en", "null doc id tokens"),
]

#: per kernel: ids that must be absent, ids that must be present
EXPECT = {
    "band_rows": ({4, 5, 6}, {1, 2, 3, 11, 12}),
    "bigram_blocked": ({33, 34, 35}, {31, 32, 36}),
    "grams3": ({4, 5, 6}, {1, 3, 8, 9, 16}),
    "scurve24": ({4, 5, 6}, {1, 2, 3, 11}),
    "simham": ({5, 6, 24}, {1, 21, 22, 7, 23, 25}),
}


def _canon(df):
    """Order-free, value-exact form of a result: each row as a tuple
    (arrays as tuples, so shingle ORDER is compared too)."""
    return sorted(
        (
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.collect()
        ),
        key=repr,
    )


def _both(docs, case):
    kernel, schema, reference, cols = KERNELS[case]
    arrow = (
        kernel(docs.select(*cols))
        if schema is None
        else docs.select(*cols).mapInPandas(kernel, schema)
    )
    return _canon(arrow), _canon(reference(docs))


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_kernel_equals_reference_on_fixture(spark, sf_dir, case):
    docs = fan_out(
        table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    )
    got, want = _both(docs, case)
    assert got == want
    assert got, "fixture must produce rows"
    if case == "scurve24":
        assert all(len(sig) == 24 for _d, sig in got)


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_kernel_equals_reference_on_adversarial_frame(spark, case):
    docs = spark.createDataFrame(
        ADVERSARIAL, "doc_id bigint, lang string, text string"
    )
    got, want = _both(docs, case)
    assert got == want
    ids = {r[0] for r in got}
    absent, present = EXPECT[case]
    assert absent.isdisjoint(ids) and present <= ids
    assert None in ids, "null-doc_id row must pass through"

    def rows_of(doc_id):
        return [r[1:] for r in got if r[0] == doc_id]

    assert rows_of(3) == rows_of(11), "exact-dup docs share a signature"
    if case == "grams3":
        # \xa0 glues tokens: the doc's first shingle spans three
        # \xa0-joined words, not three \xa0-separated tokens
        (grams16, _sz) = rows_of(16)[0]
        assert grams16[0] == "nbsp\xa0separated\xa0tokens maybe different"


def test_jvm_locale_is_root_like(spark):
    """The kernel/reference bit-identity assumes a ROOT-like JVM
    default locale for case mapping (the LOCALE CONTRACT on
    ``dedup._doc_rows``): a Turkish/Azerbaijani-locale JVM maps I→ı
    in ``lower()`` while Python's str.lower() yields i, so the
    adversarial parity test would only pin parity for a host it
    doesn't run on.  Assert the assumption instead of assuming it."""
    lang = (
        spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
    )
    assert lang not in ("tr", "az"), (
        f"JVM default locale '{lang}' breaks kernel/reference lower() "
        "parity on dotted/dotless I — pin -Duser.language= for the JVM"
    )


def test_arrow_path_survives_all_null_batch(spark):
    """A fully-null text batch surfaces as float NaN in pandas, not
    None — the worker must skip it, matching the reference's null
    filter."""
    docs = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id bigint, text string"
    )
    assert dedup.minhash_band_rows(docs).count() == 0
    assert dedup.minhash_band_rows_hof(docs).count() == 0


def test_references_called_only_in_reference_block():
    """Each text-signature operator has one lineage: the JVM reference
    builders are called only inside dedup.py's reference block (and
    by tests), and the retired lineage switch is gone."""
    import fxblue_etl_spark

    pkg = Path(fxblue_etl_spark.__file__).parent
    repo = pkg.parent
    names = (
        "minhash_signatures",
        "minhash_band_rows_hof",
        "bigram_blocked_hof",
        "grams3_hof",
        "scurve_sigs_hof",
        "simham_sigs_hof",
        "_min_tokens",
    )
    marker = "# ── JVM parity references"
    src = (pkg / "operators" / "dedup.py").read_text()
    body, block = src.split(marker)
    for n in names:
        assert f"\ndef {n}(" in block, n
    call = re.compile(r"\b(?:%s)\(" % "|".join(names))
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if call.search(body if p.name == "dedup.py" else p.read_text())
    )
    assert callers == []
    switch = sorted(
        str(p.relative_to(repo))
        for p in [
            *pkg.rglob("*.py"),
            repo / "bench.py",
            *(repo / "tools").rglob("*.py"),
        ]
        if "USE_ARROW_SIGNATURES" in p.read_text()
    )
    assert switch == []
