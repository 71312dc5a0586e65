"""Runtime bloom-filter join pruning (the row-group sibling of DPP).

`plans/sinks.dpp_monthly_join` shows partition-level runtime pruning;
this plan shows Spark's other runtime filter: when a shuffle join's
build side carries a selective predicate, Catalyst injects a
`bloom_filter_agg` over the build-side keys and plants
`might_contain(key)` on the probe-side scan, so most of a 100 TB fact
never reaches the shuffle. The fixture is far below the default
size thresholds, so the query lowers them explicitly — at real scale
the defaults (10 MB build / 10 GB probe) fire on their own.

`tests/test_runtime_filters.py` asserts `might_contain` lands in the
executed plan; the oracle certifies the filter is a pure optimization
(same result as the plain join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table

#: selective build-side predicate certified by the round trip
MAX_PART_SIZE = 3


#: confs that let the injection rule fire on a test-scale fixture.
#: A join *hint* suppresses injection, so the shuffle join is forced
#: by conf, not hint — and scoped: the plan is frozen under these
#: settings, then the session is restored (the driver runs every
#: query in one shared session).
_FIXTURE_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part(p_size ≤ 3): bloom-pruned shuffle join, revenue
    rolled up per brand."""
    old = {k: spark.conf.get(k) for k in _FIXTURE_CONFS}
    for k, v in _FIXTURE_CONFS.items():
        spark.conf.set(k, v)
    try:
        li = table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        p = table(spark, sf_dir, "part").filter(F.col("p_size") <= MAX_PART_SIZE)
        j = li.join(p, li["l_partkey"] == p["p_partkey"])
        out = j.groupBy("p_brand").agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
        # freeze logical optimization + physical planning under the
        # fixture confs (lazy vals — later .collect() reuses them; AQE
        # may still re-broadcast at runtime, which is fine: the
        # injected might_contain survives replanning)
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


BLOOM_JOIN_ORACLE = f"""
SELECT p_brand,
       count(*) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size <= {MAX_PART_SIZE}
GROUP BY 1
"""


#: portable-bloom geometry: m bits, k hashes, 32-bit words
BLOOM_M = 16384
BLOOM_K = 3
BLOOM_WORD = 32


def _bloom_positions(df: DataFrame) -> DataFrame:
    """(o_orderkey, bit): the BLOOM_K md5-derived bit positions per
    key — the portable hash family both engines reproduce.
    Extracted from ``portable_bloom_contract`` (round 12) so the
    upsert contract shares the family byte-for-byte."""
    pos = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"bloom{i}|"),
                                F.col("o_orderkey").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % BLOOM_M
            )
            for i in range(BLOOM_K)
        ]
    )
    return df.select("o_orderkey", F.explode(pos).alias("bit"))


def _bloom_words(members: DataFrame) -> DataFrame:
    """(word_idx, word): the serialized filter — per-member bits OR-
    folded into 32-bit words (the distributed build: per-partition
    partial OR, then word-wise OR)."""
    return (
        _bloom_positions(members)
        .select(
            (F.col("bit") / BLOOM_WORD).cast("long").alias("word_idx"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge of two word tables: a Bloom filter is the bitwise OR
    of its members' bit patterns, so ``bloom_merge(_bloom_words(A),
    _bloom_words(B)) == _bloom_words(A ∪ B)`` word for word, and a
    replayed member cannot change it."""
    return (
        a.unionByName(b).groupBy("word_idx").agg(F.expr("bit_or(word)").alias("word"))
    )


def _bloom_pos_legs(src: str) -> str:
    """DuckDB mirror of :func:`_bloom_positions` over relation ``src``
    (column ``o_orderkey``): one ``(o_orderkey, bit)`` leg per hash."""
    from ..operators.dedup import _hex8_sql

    legs = []
    for i in range(BLOOM_K):
        md5_sql = f"md5('bloom{i}|' || CAST(o_orderkey AS VARCHAR))"
        legs.append(
            f"SELECT o_orderkey, ({_hex8_sql(md5_sql, 1)}) % {BLOOM_M} AS bit"
            f" FROM {src}"
        )
    return " UNION ALL ".join(legs)


def portable_bloom_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Bloom filter built, serialized, and probed ENTIRELY in
    relational operators — the engine-portable sketch (md5-derived
    hash family, 32-bit words OR-aggregated) whose exact bit pattern
    the DuckDB oracle reproduces, unlike Spark's built-in
    ``bloom_filter_agg`` whose layout is engine-private.

    Members are the even order keys; probes are ALL order keys, so
    the odd keys measure the false-positive rate while the contract
    asserts what a Bloom filter must guarantee: ZERO false negatives.
    The FP count is emitted too — with md5 hashing it is a
    deterministic number both engines agree on, and the test checks
    it against the ~(1−e^{−kn/m})^k expectation band.

    Plan shape: build = explode k bit positions per member →
    groupBy(word) BIT_OR — the filter IS a 512-row table, mergeable
    and shuffle-friendly (this is how a distributed build works at
    100 TB: per-partition partial OR, then word-wise OR).  Probe =
    k-way equi-join against those 512 rows (broadcast), then an
    all-bits-set aggregate per probe key."""
    o = table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    members = o.filter(F.col("o_orderkey") % 2 == 0)
    words = _bloom_words(members)
    probes = _bloom_positions(o).select(
        "o_orderkey",
        (F.col("bit") / BLOOM_WORD).cast("long").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(bit % {BLOOM_WORD} AS INT))").alias("mask"),
    )
    checked = probes.join(F.broadcast(words), "word_idx", "left_outer").select(
        "o_orderkey",
        (
            (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("mask")) != 0)
        ).cast("int").alias("bit_set"),
    )
    verdict = checked.groupBy("o_orderkey").agg(
        F.min("bit_set").alias("maybe_member")
    )
    return verdict.agg(
        F.count("*").alias("n_probes"),
        F.sum((F.col("o_orderkey") % 2 == 0).cast("int")).cast("long").alias("n_members"),
        F.sum(
            F.when((F.col("o_orderkey") % 2 == 0) & (F.col("maybe_member") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("false_negatives"),
        F.sum(
            F.when((F.col("o_orderkey") % 2 != 0) & (F.col("maybe_member") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("false_positives"),
    )


def _bloom_oracle() -> str:
    pos_legs = _bloom_pos_legs("keys")
    return f"""
WITH keys AS (SELECT DISTINCT o_orderkey FROM orders),
pos AS ({pos_legs}),
words AS (
  SELECT bit // {BLOOM_WORD} AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(bit % {BLOOM_WORD} AS INT)) AS word
  FROM pos WHERE o_orderkey % 2 = 0
  GROUP BY 1),
checked AS (
  SELECT p.o_orderkey,
         CASE WHEN coalesce(w.word, 0) & (CAST(1 AS BIGINT) << CAST(p.bit % {BLOOM_WORD} AS INT)) != 0
              THEN 1 ELSE 0 END AS bit_set
  FROM pos p LEFT JOIN words w ON w.word_idx = p.bit // {BLOOM_WORD}),
verdict AS (
  SELECT o_orderkey, min(bit_set) AS maybe_member FROM checked GROUP BY 1)
SELECT count(*) AS n_probes,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN o_orderkey % 2 = 0 AND maybe_member = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_negatives,
       CAST(sum(CASE WHEN o_orderkey % 2 != 0 AND maybe_member = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS false_positives
FROM verdict
"""


PORTABLE_BLOOM_ORACLE = _bloom_oracle()


def bloom_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance contract for the portable Bloom filter
    — the set-membership member of the upsert ≡ rebuild family
    (postings / components / band / sign / IVF / encoding / Gram /
    KMV / CUSUM): a Bloom filter is a bitwise OR of per-member bit
    patterns, so ``merge(build(A), build(B)) == build(A ∪ B)`` holds
    EXACTLY word-for-word for ANY split of the member set.  Here the
    even-orderkey member set splits interleaved (key % 4 == 0 vs
    key % 4 == 2 — stricter than append-only), both halves build
    independently, the word tables OR-merge on word_idx, and the
    contract compares every word against the one-shot rebuild.

    This is the property that makes the sketch maintainable at
    100 TB ingest: streaming partial filters OR into the serving
    filter with no rebuild and no drift, the exact same algebra the
    per-partition distributed build already uses.

    Output is one row: word counts for each side, the word-wise
    mismatch count (must be 0), the checksums of merged and rebuilt
    filters, and the verdict boolean.  The oracle replays the
    one-shot build and emits the same columns — every value is
    independently derivable from the member set alone."""
    from ..io import swap_cache

    o = table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    members = o.filter(F.col("o_orderkey") % 2 == 0)
    # persist the two partial word tables (BLOOM_WORDS-sized — these
    # ARE the sketch states a real pipeline stores): the OR-merge and
    # the word-count audit both consume each side, so un-persisted
    # the member md5 pass re-ran per consumer — 5 orders scans in
    # this plan (r14 scan sweep; guide §2.4); 3 after, exactly the
    # contract's three builds
    base, delta = swap_cache(
        "rtf.bloom_upsert_parts",
        _bloom_words(members.filter(F.col("o_orderkey") % 4 == 0)),
        _bloom_words(members.filter(F.col("o_orderkey") % 4 == 2)),
    )
    merged = bloom_merge(base, delta)
    full = _bloom_words(members)
    cmp = (
        merged.select("word_idx", F.col("word").alias("wm"))
        .join(
            full.select("word_idx", F.col("word").alias("wf")),
            "word_idx",
            "full",
        )
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(
                (
                    F.coalesce(F.col("wm"), F.lit(-1))
                    != F.coalesce(F.col("wf"), F.lit(-2))
                ).cast("long")
            )
            .cast("long")
            .alias("n_mismatch"),
            F.sum(F.coalesce(F.col("wm"), F.lit(0))).cast("long").alias("merged_checksum"),
            F.sum(F.coalesce(F.col("wf"), F.lit(0))).cast("long").alias("rebuild_checksum"),
        )
    )
    counts = (
        base.agg(F.count("*").cast("long").alias("n_words_base"))
        .crossJoin(
            F.broadcast(
                delta.agg(F.count("*").cast("long").alias("n_words_delta"))
            )
        )
    )
    return cmp.crossJoin(F.broadcast(counts)).select(
        "n_words",
        "n_words_base",
        "n_words_delta",
        "n_mismatch",
        "merged_checksum",
        "rebuild_checksum",
        (F.col("n_mismatch") == 0).cast("int").alias("merge_equals_rebuild"),
    )


def _bloom_upsert_oracle() -> str:
    pos_legs = _bloom_pos_legs("keys")
    return f"""
WITH keys AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
pos AS ({pos_legs}),
words AS (
  SELECT bit // {BLOOM_WORD} AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(bit % {BLOOM_WORD} AS INT)) AS word
  FROM pos GROUP BY 1),
wb AS (
  SELECT bit // {BLOOM_WORD} AS word_idx,
         count(*) AS n
  FROM pos WHERE o_orderkey % 4 = 0 GROUP BY 1),
wd AS (
  SELECT bit // {BLOOM_WORD} AS word_idx,
         count(*) AS n
  FROM pos WHERE o_orderkey % 4 = 2 GROUP BY 1)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_words,
       (SELECT CAST(count(*) AS BIGINT) FROM wb) AS n_words_base,
       (SELECT CAST(count(*) AS BIGINT) FROM wd) AS n_words_delta,
       CAST(0 AS BIGINT) AS n_mismatch,
       (SELECT CAST(sum(word) AS BIGINT) FROM words) AS merged_checksum,
       (SELECT CAST(sum(word) AS BIGINT) FROM words) AS rebuild_checksum,
       1 AS merge_equals_rebuild
"""


def _cbf_counters(members: DataFrame) -> DataFrame:
    """(bit, cnt): the COUNTING Bloom filter — per-position hit
    counters instead of bits, sharing the ``_bloom_positions`` hash
    family byte-for-byte.  SUM-mergeable AND subtractable, which is
    what buys deletion."""
    return (
        _bloom_positions(members)
        .groupBy("bit")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def counting_bloom_delete_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELETION contract for the counting Bloom filter — the member
    of the sketch family none of the others can state: Bloom's OR
    and HLL's MAX are idempotent-monotone (inserts only), but a CBF
    counter table supports RETRACTION, and the algebra is exact:
    ``delete(build(A ∪ D), D) == build(A)`` counter-for-counter for
    any D ⊆ members.  This is the IVM retraction-by-subtraction
    discipline (`ivm_delete_maintenance`) applied to a sketch — a
    GDPR delete or a bad-batch rollback can maintain the membership
    structure without a full rebuild.

    Here: build over ALL even order keys, subtract the key % 4 == 2
    members' counters, drop zeroed positions, and compare against
    the direct build over key % 4 == 0 — plus the degraded
    membership view (counter > 0) against the survivors' plain
    Bloom bits, so the contract covers both the counters and the
    bits they imply.

    Output: one row — counter-table sizes, word-wise mismatches
    (must be 0), total counts both sides, max counter, verdict."""
    o = table(spark, sf_dir, "orders").select("o_orderkey").distinct()
    members = o.filter(F.col("o_orderkey") % 2 == 0)
    full = _cbf_counters(members)
    dels = _cbf_counters(members.filter(F.col("o_orderkey") % 4 == 2))
    net = (
        full.select("bit", F.col("cnt").alias("ca"))
        .join(
            dels.select("bit", F.col("cnt").alias("cd")),
            "bit",
            "full",
        )
        .select(
            "bit",
            (
                F.coalesce(F.col("ca"), F.lit(0))
                - F.coalesce(F.col("cd"), F.lit(0))
            ).alias("cnt"),
        )
        .filter(F.col("cnt") > 0)
    )
    direct = _cbf_counters(members.filter(F.col("o_orderkey") % 4 == 0))
    return (
        net.select("bit", F.col("cnt").alias("cn"))
        .join(
            direct.select("bit", F.col("cnt").alias("cr")),
            "bit",
            "full",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_positions"),
            F.sum(
                (
                    F.coalesce(F.col("cn"), F.lit(-1))
                    != F.coalesce(F.col("cr"), F.lit(-2))
                ).cast("long")
            )
            .cast("long")
            .alias("n_mismatch"),
            F.sum(F.coalesce(F.col("cn"), F.lit(0)))
            .cast("long")
            .alias("total_net"),
            F.sum(F.coalesce(F.col("cr"), F.lit(0)))
            .cast("long")
            .alias("total_direct"),
            F.max(F.coalesce(F.col("cr"), F.lit(0)))
            .cast("long")
            .alias("max_counter"),
        )
        .select(
            "n_positions",
            "n_mismatch",
            "total_net",
            "total_direct",
            "max_counter",
            (F.col("n_mismatch") == 0).cast("int").alias("equal"),
        )
    )


def _cbf_delete_oracle() -> str:
    pos_legs = _bloom_pos_legs("quads")
    return f"""
WITH quads AS (
  SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 4 = 0),
pos AS ({pos_legs}),
direct AS (
  SELECT bit, CAST(count(*) AS BIGINT) AS cnt FROM pos GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_positions,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(cnt) AS BIGINT) AS total_net,
       CAST(sum(cnt) AS BIGINT) AS total_direct,
       CAST(max(cnt) AS BIGINT) AS max_counter,
       1 AS equal
FROM direct
"""


def _bloom_words_oracle() -> str:
    """The word table of the even-key member set — what the streaming
    maintenance (``streaming.pipelines.streaming_bloom_maintenance``)
    must equal exactly: the same member set and hash family as the
    batch contracts above."""
    pos_legs = _bloom_pos_legs("keys")
    return f"""
WITH keys AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
pos AS ({pos_legs})
SELECT bit // {BLOOM_WORD} AS word_idx,
       bit_or(CAST(1 AS BIGINT) << CAST(bit % {BLOOM_WORD} AS INT)) AS word
FROM pos GROUP BY 1
"""


BLOOM_WORDS_ORACLE = _bloom_words_oracle()


QUERIES = {
    "bloom_filter_join": bloom_filter_join,
    "portable_bloom_contract": portable_bloom_contract,
    "bloom_upsert_equivalence": bloom_upsert_equivalence,
    "counting_bloom_delete_equivalence": counting_bloom_delete_equivalence,
}

ORACLES = {
    "bloom_filter_join": BLOOM_JOIN_ORACLE,
    "portable_bloom_contract": PORTABLE_BLOOM_ORACLE,
    "bloom_upsert_equivalence": _bloom_upsert_oracle(),
    "counting_bloom_delete_equivalence": _cbf_delete_oracle(),
}
