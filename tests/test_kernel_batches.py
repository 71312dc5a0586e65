"""The text-signature Arrow kernels hash each batch's distinct grams
once and fold them per document with ``ufunc.reduceat``, so a kernel's
output must not depend on where the Arrow batches split the input.
Each kernel is checked against its JVM reference with three-row
batches, and the kernel inputs' plan shapes are pinned."""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fxblue_etl_spark.io import fan_out, table
from fxblue_etl_spark.operators import dedup
from tests.test_arrow_signatures import ADVERSARIAL, KERNELS, _both

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

#: one three-row batch whose documents share every gram of the batch
SHARED = [(i, "en", "alpha beta gamma delta") for i in (1, 2, 3)]

#: one-gram documents at a batch's first, middle and last row, beside
#: multi-gram ones: 3 tokens (one shingle), "solo" repeated (one
#: distinct token and one shingle), 2 tokens (one bigram)
ONE_GRAM = [
    (1, "en", "x y z"),
    (2, "en", "a b c d e f g"),
    (3, "en", "p q r"),
    (4, "en", "solo solo solo"),
    (5, "en", "u v"),
    (6, "en", "m n o"),
    (7, "en", "h i"),
    (8, "en", "a long document with many words in it"),
    (9, "en", "k l"),
]


@pytest.fixture
def three_row_batches(spark):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "3")
    try:
        yield
    finally:
        spark.conf.set(BATCH_CONF, old)


def _frame(spark, rows):
    # one partition, so the three-row batches are the ones that split
    return spark.createDataFrame(
        rows, "doc_id bigint, lang string, text string"
    ).coalesce(1)


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_parity_across_batches_on_fixture(spark, sf_dir, three_row_batches, case):
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    got, want = _both(docs.coalesce(1), case)
    assert got == want
    assert got


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_parity_across_batches_on_adversarial_frame(spark, three_row_batches, case):
    got, want = _both(_frame(spark, ADVERSARIAL), case)
    assert got == want
    assert None in {r[0] for r in got}


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_batch_sharing_every_gram(spark, three_row_batches, case):
    got, want = _both(_frame(spark, SHARED), case)
    assert got == want
    by_doc = {}
    for r in got:
        by_doc.setdefault(r[0], []).append(r[1:])
    assert sorted(by_doc) == [1, 2, 3]
    assert by_doc[1] == by_doc[2] == by_doc[3]


@pytest.mark.parametrize("case", sorted(KERNELS))
def test_one_gram_documents(spark, three_row_batches, case):
    got, want = _both(_frame(spark, ONE_GRAM), case)
    assert got == want
    k = 2 if case == "bigram_blocked" else 1 if case == "simham" else 3
    n_toks = {i: len(t.split()) for i, _l, t in ONE_GRAM}
    assert {r[0] for r in got} == {i for i, n in n_toks.items() if n >= k}
    if case == "grams3":
        sizes = {r[0]: r[2] for r in got}
        assert [sizes[i] for i in (1, 3, 4, 6)] == [1, 1, 1, 1]


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "query", [dedup.minhash_lsh_pairs, dedup.simhash_hamming_neardup]
)
def test_small_corpus_runs_kernel_in_scan_stage(spark, sf_dir, query):
    """A documents file under one KERNEL_PART_BYTES part feeds the
    kernel from its scan: no round-robin repartition below it."""
    plan = _executed(query(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_kernel_input_spreads_by_bytes(spark, tmp_path):
    """A documents parquet over 3 × KERNEL_PART_BYTES is cut into one
    part per KERNEL_PART_BYTES, up to the core count."""
    import numpy as np

    rng = np.random.default_rng(7)
    words = rng.integers(0, 2**62, size=(4_000, 12)).astype(str)
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(len(words), dtype=np.int64),
                "text": [" ".join(w) for w in words],
            }
        ),
        tmp_path / "documents.parquet",
    )
    size = (tmp_path / "documents.parquet").stat().st_size
    part = dedup.KERNEL_PART_BYTES
    assert 3 * part < size < 4 * part
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    dp = spark.sparkContext.defaultParallelism
    parts = math.ceil(size / part)

    def n_parts(min_parts=None):
        df = fan_out(docs, min_parts, part_bytes=part)
        return df.rdd.getNumPartitions()

    assert n_parts() == min(dp, parts)
    assert n_parts(2 * dp) == min(2 * dp, parts)


def test_jvm_caller_keeps_core_count_rule(spark, sf_dir):
    """``fastss_editdist1_pairs`` fans out without ``part_bytes``: its
    single-file customer scan still goes to every core."""
    dp = spark.sparkContext.defaultParallelism
    plan = _executed(dedup.fastss_editdist1_pairs(spark, sf_dir))
    assert f"RoundRobinPartitioning({dp})" in plan, plan
