"""The first-band rule (``dedup._first_band_pairs``): each of the three
banded detectors emits every pair of documents that share at least
one band exactly once, from the first band they share.  Checked
against plain-Python brute force on adversarial inputs: pairs that
collide in 1, 2, 3 and all 4 bands, exact duplicates, and short,
empty and null texts.  The two Hamming detectors are lossless at
radius 3, so they must also equal brute-force Hamming <= 3 over all
pairs."""

from __future__ import annotations

import hashlib
import random
import re
from collections import Counter
from itertools import combinations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fxblue_etl_spark.io import table
from fxblue_etl_spark.operators import dedup, multimodal
from fxblue_etl_spark.operators.dedup import (
    BAND_ROWS,
    MERSENNE_31,
    N_PERM,
    PERM_A,
    PERM_B,
    SIMHAM_T,
    lsh_candidate_pairs,
)
from fxblue_etl_spark.operators.multimodal import AHASH_HAM_T

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _once(rows) -> set:
    """The pairs of ``rows`` as a set, after checking none repeats."""
    pairs = [(r[0], r[1]) for r in rows]
    assert len(pairs) == len(set(pairs)), Counter(pairs).most_common(3)
    return set(pairs)


def _sharing(bands: dict) -> dict:
    """Brute force: (a, b) → number of bands the two share, over
    every pair with at least one."""
    out = {}
    for a, b in combinations(sorted(bands), 2):
        n = sum(x == y for x, y in zip(bands[a], bands[b]))
        if n:
            out[(a, b)] = n
    return out


# ── MinHash ─────────────────────────────────────────────────────────────


def _minhash_bands(text):
    """The band tuples of ``text`` as the kernel computes them, or
    None for a document with fewer than 3 tokens."""
    if text is None:
        return None
    toks = [t for t in re.split("[ \t\n\x0b\f\r]+", text.lower()) if t]
    if len(toks) < 3:
        return None
    shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
    sig = [min((PERM_A[p] * h + PERM_B[p]) % MERSENNE_31 for h in hs) for p in range(N_PERM)]
    return [tuple(sig[b : b + BAND_ROWS]) for b in range(0, N_PERM, BAND_ROWS)]


def _check_lsh(spark, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = _once(lsh_candidate_pairs(docs).select("doc_a", "doc_b").collect())
    bands = {i: b for i, t in enumerate(texts) if (b := _minhash_bands(t)) is not None}
    want = _sharing(bands)
    assert got == set(want)
    return want


def _variants() -> list:
    """Near-duplicate families over a small vocabulary: each variant
    changes one or two tokens of its family's base text."""
    rng = random.Random(7)
    words = [f"w{i}" for i in range(40)]
    out = []
    for _ in range(4):
        base = rng.choices(words, k=10)
        out.append(" ".join(base))
        for _ in range(9):
            v = list(base)
            for _ in range(rng.choice((1, 1, 2))):
                v[rng.randrange(len(v))] = rng.choice(words)
            out.append(" ".join(v))
    return out


def test_lsh_pairs_once_on_adversarial_docs(spark):
    texts = _variants() + [
        "the same boilerplate text shared verbatim by three docs",
        "the same boilerplate text shared verbatim by three docs",
        "THE  same\tboilerplate text shared verbatim by three docs",
        "two tokens",
        "one",
        "",
        " \t ",
        None,
        "exactly three tokens",
        "exactly three tokens",
    ]
    shared = Counter(_check_lsh(spark, texts).values())
    assert {1, 2, 3, 4} <= set(shared), shared


docs_strategy = st.lists(
    st.one_of(
        st.none(),
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), max_size=8).map(" ".join),
    ),
    min_size=2,
    max_size=14,
)


@settings(**SETTINGS)
@given(texts=docs_strategy)
def test_lsh_pairs_once_property(spark, texts):
    _check_lsh(spark, texts)


# ── SimHash and aHash over given signatures ─────────────────────────────
#
# A signature is an int of 64 (SimHash: lo | hi << 32) or 32 (aHash)
# bits, whose four bands are its four equal slices from the low end.


def _flip(word: int, bits) -> int:
    for b in bits:
        word ^= 1 << b
    return word


def _hamming(sigs: dict) -> dict:
    """Brute force: (a, b) → Hamming distance, over all pairs."""
    return {(a, b): bin(sigs[a] ^ sigs[b]).count("1") for a, b in combinations(sorted(sigs), 2)}


def _check_hamming(frame, band_keys, member_cols, sigs, width, detect, radius):
    """``_first_band_pairs`` over ``frame`` pairs exactly the docs
    whose signatures share a band, and ``detect()`` returns exactly
    the pairs within ``radius``, each once with its distance."""
    cand = _once(
        dedup._first_band_pairs(frame, band_keys, member_cols)
        .selectExpr("a.doc_id", "b.doc_id")
        .collect()
    )
    w = width // 4
    want = _sharing({i: [(s >> (w * b)) & ((1 << w) - 1) for b in range(4)] for i, s in enumerate(sigs)})
    assert cand == set(want)
    near = _hamming(dict(enumerate(sigs)))
    rows = detect().collect()
    assert _once((r.doc_a, r.doc_b) for r in rows) == {p for p, h in near.items() if h <= radius}
    assert all(r.hamming == near[(r.doc_a, r.doc_b)] for r in rows)
    return want


def _check_simham(spark, monkeypatch, sigs):
    frame = spark.createDataFrame(
        [(i, s & 0xFFFFFFFF, s >> 32) for i, s in enumerate(sigs)],
        "doc_id bigint, lo bigint, hi bigint",
    )
    monkeypatch.setattr(dedup, "_simhash64_sigs", lambda spark, sf_dir: frame)
    return _check_hamming(
        frame,
        dedup._simham_band_keys,
        ("doc_id", "lo", "hi"),
        sigs,
        64,
        lambda: dedup.simhash_hamming_neardup(spark, "unused"),
        SIMHAM_T,
    )


def _check_ahash(spark, monkeypatch, sf_dir, hashes):
    frame = spark.createDataFrame(list(enumerate(hashes)), "doc_id long, ahash long")
    monkeypatch.setattr(multimodal, "_ahash_rows", lambda docs: frame)
    return _check_hamming(
        frame,
        multimodal._ahash_band_keys,
        ("doc_id", "ahash"),
        hashes,
        32,
        lambda: multimodal.media_ahash_neardup(spark, sf_dir),
        AHASH_HAM_T,
    )


#: bits each doc flips in one base signature: none (an exact
#: duplicate), bits in 1, 2, 3 or all 4 bands (sharing 3, 2, 1 or 0
#: bands with the base), 3 or 4 bits in one band, 5 bits in one band
SIMHAM_FLIPS = [
    [],
    [],
    [3],
    [3, 20],
    [3, 20, 40],
    [3, 20, 40, 60],
    [48, 50, 52],
    [33, 35, 37, 39],
    [0, 1, 2, 3, 4],
    [17],
    [17, 63],
]
AHASH_FLIPS = [[], [], [2], [2, 10], [2, 10, 18], [2, 10, 18, 26], [25, 27, 29], [0, 1, 3, 5], [9], [9, 31]]


def test_simham_pairs_once_on_adversarial_sigs(spark, monkeypatch):
    sigs = [_flip(0x7F4A7C159E3779B9, f) for f in SIMHAM_FLIPS]
    shared = Counter(_check_simham(spark, monkeypatch, sigs).values())
    assert {1, 2, 3, 4} <= set(shared), shared


def test_ahash_pairs_once_on_adversarial_hashes(spark, monkeypatch, sf_dir):
    hashes = [_flip(0xC3A55A3C, f) for f in AHASH_FLIPS]
    shared = Counter(_check_ahash(spark, monkeypatch, sf_dir, hashes).values())
    assert {1, 2, 3, 4} <= set(shared), shared


def _flipped(width: int):
    """Signatures that each flip up to 5 bits of one of up to 3 bases."""
    return st.lists(st.integers(0, 2**width - 1), min_size=1, max_size=3).flatmap(
        lambda bases: st.lists(
            st.builds(_flip, st.sampled_from(bases), st.lists(st.integers(0, width - 1), max_size=5)),
            min_size=2,
            max_size=14,
        )
    )


@settings(**SETTINGS)
@given(sigs=_flipped(64))
def test_simham_pairs_once_property(spark, monkeypatch, sigs):
    _check_simham(spark, monkeypatch, sigs)


@settings(**SETTINGS)
@given(hashes=_flipped(32))
def test_ahash_pairs_once_property(spark, monkeypatch, sf_dir, hashes):
    _check_ahash(spark, monkeypatch, sf_dir, hashes)


# ── the three detectors end to end over documents with text ─────────────


@pytest.fixture
def text_fixture(sf_dir, tmp_path):
    """A documents table of exact duplicates, one-token variants and
    short, empty, whitespace-only and null texts."""
    src = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, 12).to_pylist()
    texts = [r["text"] for r in src] + [
        src[0]["text"],
        src[0]["text"],
        src[1]["text"].replace(" ", "  ", 1),
        src[2]["text"] + " extra",
        "tiny",
        "two words",
        "",
        " \t ",
        None,
        "short but over thirty two bytes!",
        "short but over thirty two bytes!",
    ]
    rows = [
        {**src[i % len(src)], "doc_id": i, "text": t, "n_chars": len(t or "")}
        for i, t in enumerate(texts)
    ]
    schema = pq.read_schema(f"{sf_dir}/documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp_path / "documents.parquet")
    return str(tmp_path), texts


def test_detectors_on_text_match_bruteforce(spark, text_fixture):
    d, texts = text_fixture
    want = _sharing({i: b for i, t in enumerate(texts) if (b := _minhash_bands(t)) is not None})
    got = _once(lsh_candidate_pairs(table(spark, d, "documents")).select("doc_a", "doc_b").collect())
    assert got == set(want) and want

    sigs = {r.doc_id: r.lo | r.hi << 32 for r in dedup._simhash64_sigs(spark, d).collect()}
    near = {p for p, h in _hamming(sigs).items() if h <= SIMHAM_T}
    rows = dedup.simhash_hamming_neardup(spark, d).collect()
    assert _once((r.doc_a, r.doc_b) for r in rows) == near and near

    hashes = {r.doc_id: r.ahash for r in multimodal._ahash_rows(table(spark, d, "documents")).collect()}
    near = {p for p, h in _hamming(hashes).items() if h <= AHASH_HAM_T}
    rows = multimodal.media_ahash_neardup(spark, d).collect()
    assert _once((r.doc_a, r.doc_b) for r in rows) == near and near
