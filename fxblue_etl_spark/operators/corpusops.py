"""Corpus-management operators for training-data pipelines (§2.13+).

The four ops every pretraining data pipeline runs between "cleaned
documents" and "training shards":

- ``corpus_split``: deterministic hash-bucketed train/val/test split —
  membership is a pure function of the stable doc key, so re-runs,
  backfills, and incremental appends land every doc in the same split
  without coordination (no sampling state, no shuffle beyond the final
  summary agg).
- ``stratified_sample``: per-language hash-threshold sampling with
  different rates per stratum (down-sample the head language, keep the
  tail) — again stateless and re-run-stable, unlike ``df.sample``
  whose output changes with partitioning.
- ``sequence_pack``: contiguous token-budget packing — assign docs to
  ~``PACK_BUDGET``-token bins per language in stable doc order via an
  exclusive running sum. One window shuffle per language partition; at
  scale this is the pass that turns a corpus into equally-sized
  training shards.
- ``df_prune``: corpus-level document-frequency pruning (the
  vocabulary form of C4-ish boilerplate removal): tokens present in
  more than half of all documents are dropped from every document,
  preserving order and multiplicity. The vocabulary aggregate is tiny
  → broadcast back; per-doc rewrite stays in whole-stage codegen
  (array filter, no Python, no second shuffle). The reconstructed
  text is certified by md5 so the oracle checks content, not counts.

All hash bucketing uses md5 prefixes (cross-engine reproducible);
quotients are never rounded (see README rounding rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import fan_out, table
from ..session import tune
from .dedup import _hex8_sql
from .textops import ws_tokens

#: split fractions in percent: <TRAIN_PCT train, <VAL_PCT val, else test
TRAIN_PCT = 80
VAL_PCT = 90

#: per-mille sampling rates per language (head lang down-sampled)
SAMPLE_RATES = {"en": 100, "de": 300, "fr": 300, "es": 300, "zh": 300}
DEFAULT_RATE = 200

#: token budget per packed bin
PACK_BUDGET = 2048

#: sub-streams per language for packing — the running sum inside one
#: (lang, bucket) is a single window task, so buckets set the
#: parallelism floor of the packing pass
N_PACK_BUCKETS = 8


def _hash_bucket(key, salt: str, mod: int):
    """First 8 md5 hex chars of ``salt || key`` as int, mod ``mod`` —
    the engine-portable uniform bucket hash."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % mod


def _hash_bucket_sql(key_sql: str, salt: str, mod: int) -> str:
    md5_sql = f"md5('{salt}' || {key_sql})"
    return f"({_hex8_sql(md5_sql, 1)}) % {mod}"


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split, summarized per (lang, split)."""
    d = table(tune(spark), sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), "split|", 100)
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"), "n_chars", "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


CORPUS_SPLIT_ORACLE = f"""
SELECT lang,
       CASE WHEN {_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "split|", 100)} < {TRAIN_PCT} THEN 'train'
            WHEN {_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "split|", 100)} < {VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM documents
GROUP BY 1, 2
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language hash-threshold sample: doc kept iff its per-mille
    bucket falls under the language's rate. Pure row-local predicate —
    fuses into the scan, no shuffle at all."""
    d = table(tune(spark), sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in SAMPLE_RATES.items()],
        F.lit(DEFAULT_RATE),
    )
    b = _hash_bucket(F.col("doc_id"), "sample|", 1000)
    return d.filter(b < rate).select("doc_id", "lang", "source", "n_chars")


_RATE_SQL = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    + f" ELSE {DEFAULT_RATE} END"
)

STRATIFIED_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "sample|", 1000)} < {_RATE_SQL}
"""


#: dynamic-padding batch geometry for the waste report
PAD_BATCH = 32
#: ordering-aligned bucket widths for the two-level ranks (id-order
#: buckets of 1000 ids; length-order buckets of 16 tokens)
PAD_ID_BKT = 1000
PAD_LEN_BKT = 16


def _ordered_rank(keyed, bkt_col):
    """Exact global rank over (k, doc_id) without a single-task sort:
    ordering-aligned buckets (integer division of the sort key keeps
    cross-bucket order), bucket-local row_number, broadcast offsets
    from the triangular join over per-bucket totals — the same
    two-level shape as spearman_rank_corr_bucketed / the SNM rank."""
    from pyspark.sql.window import Window

    b = keyed.withColumn("bkt", bkt_col)
    local = b.withColumn(
        "lrank",
        F.row_number().over(Window.partitionBy("bkt").orderBy("k", "doc_id")),
    )
    counts = b.groupBy("bkt").agg(F.count("*").cast("long").alias("n"))
    x, y = counts.alias("x"), counts.alias("y")
    offs = (
        x.join(y, F.col("y.bkt") < F.col("x.bkt"), "left")
        .groupBy(F.col("x.bkt").alias("bkt"))
        .agg(F.coalesce(F.sum("y.n"), F.lit(0)).cast("long").alias("off"))
    )
    return local.join(F.broadcast(offs), "bkt").select(
        "doc_id", "len", (F.col("off") + F.col("lrank")).cast("long").alias("rnk")
    )


def padding_waste_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch padding economics — the batching sibling of
    `sequence_pack` (packing eliminates padding by concatenation;
    most fine-tune loaders instead PAD each batch to its longest
    member, and the cost of that depends entirely on batch ORDER).
    Quantifies the classic fix: per strategy — arrival order
    (doc_id) vs length-sorted batching — batches of PAD_BATCH pad to
    the batch max, and the report prices the padded slots exactly:
    total tokens, padded slots, waste ppm.  The length-sorted
    strategy's win (near-equal lengths per batch) is the measured
    number a data-loader team acts on.

    Exact integers end to end; both global orders run as the
    bucketed two-level rank (integer-division buckets are
    ordering-aligned, so no single-task sort and no partitionless
    window).  Scale: two ranks + two PAD_BATCH-grouped aggregates
    over (corpus / B) batch rows."""
    from ..io import swap_cache

    d = table(tune(spark), sf_dir, "documents")
    base = swap_cache(
        "corpusops.padding",
        d.select(
            "doc_id",
            F.size(ws_tokens(F.col("text"))).cast("long").alias("len"),
        ),
    )

    def strategy(name: str, ranked) -> DataFrame:
        batches = (
            ranked.withColumn("batch_id", F.expr(f"(rnk - 1) DIV {PAD_BATCH}"))
            .groupBy("batch_id")
            .agg(
                F.count("*").cast("long").alias("bsz"),
                F.max("len").cast("long").alias("bmax"),
                F.sum("len").cast("long").alias("btok"),
            )
        )
        return batches.agg(
            F.lit(name).alias("strategy"),
            F.count("*").cast("long").alias("n_batches"),
            F.sum("btok").cast("long").alias("total_tokens"),
            F.sum(F.col("bsz") * F.col("bmax")).cast("long").alias("padded_slots"),
            F.expr(
                "1000000 * (sum(bsz * bmax) - sum(btok)) DIV sum(bsz * bmax)"
            )
            .cast("long")
            .alias("waste_ppm"),
        )

    arrival = _ordered_rank(
        base.select("doc_id", "len", F.col("doc_id").alias("k")),
        F.expr(f"doc_id DIV {PAD_ID_BKT}"),
    )
    bylen = _ordered_rank(
        base.select("doc_id", "len", F.col("len").alias("k")),
        F.expr(f"len DIV {PAD_LEN_BKT}"),
    )
    return strategy("arrival", arrival).unionByName(strategy("sorted", bylen))


PADDING_WASTE_ORACLE = rf"""
WITH base AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> t != '')) AS BIGINT) AS len
  FROM documents),
r_arrival AS (
  SELECT doc_id, len, row_number() OVER (ORDER BY doc_id) AS rnk FROM base),
r_sorted AS (
  SELECT doc_id, len, row_number() OVER (ORDER BY len, doc_id) AS rnk
  FROM base),
b_arrival AS (
  SELECT (rnk - 1) // {PAD_BATCH} AS batch_id,
         CAST(count(*) AS BIGINT) AS bsz, CAST(max(len) AS BIGINT) AS bmax,
         CAST(sum(len) AS BIGINT) AS btok
  FROM r_arrival GROUP BY 1),
b_sorted AS (
  SELECT (rnk - 1) // {PAD_BATCH} AS batch_id,
         CAST(count(*) AS BIGINT) AS bsz, CAST(max(len) AS BIGINT) AS bmax,
         CAST(sum(len) AS BIGINT) AS btok
  FROM r_sorted GROUP BY 1)
SELECT 'arrival' AS strategy,
       CAST(count(*) AS BIGINT) AS n_batches,
       CAST(sum(btok) AS BIGINT) AS total_tokens,
       CAST(sum(bsz * bmax) AS BIGINT) AS padded_slots,
       CAST((1000000 * (sum(bsz * bmax) - sum(btok))) // sum(bsz * bmax)
            AS BIGINT) AS waste_ppm
FROM b_arrival
UNION ALL
SELECT 'sorted',
       CAST(count(*) AS BIGINT),
       CAST(sum(btok) AS BIGINT),
       CAST(sum(bsz * bmax) AS BIGINT),
       CAST((1000000 * (sum(bsz * bmax) - sum(btok))) // sum(bsz * bmax)
            AS BIGINT)
FROM b_sorted
"""


def quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization of a per-source feature onto
    the corpus reference distribution — the harmonization step that
    makes a feature comparable ACROSS sources whose scales drifted
    (the microarray-normalization classic, and what a quality-score
    ensemble does before mixing per-source signals): each doc's
    n_chars maps to the corpus order statistic at its source-relative
    rank position, so every source's normalized distribution is
    exactly the corpus distribution restricted to its grid.

    Exact integer contract: source rank r of n_source maps to corpus
    position 1 + (r-1)·N DIV n_source (floor), and the normalized
    value is the corpus order statistic there.  Both the source
    ranks (partitioned window) and the corpus rank (bucketed
    two-level — ordering-aligned n_chars DIV 64 buckets, no global
    window) follow the house rank machinery.  Output per source:
    doc count, floor-mean raw vs normalized chars, and the max
    absolute doc-level shift — the magnitude of the correction the
    normalization applied."""
    from ..io import swap_cache

    d = swap_cache(
        "corpusops.qnorm",
        table(tune(spark), sf_dir, "documents").select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("v")
        ),
    )
    n_tot = d.agg(F.count("*").cast("long").alias("n"))
    # corpus order statistics via the ordering-aligned bucketed rank
    corpus = _ordered_rank(
        d.select("doc_id", F.col("v").alias("len"), F.col("v").alias("k")),
        F.expr("len DIV 64"),
    ).select(F.col("rnk").alias("pos"), F.col("len").alias("ref_v"))
    ws = Window.partitionBy("source").orderBy("v", "doc_id")
    src_ranked = d.withColumn("r", F.row_number().over(ws).cast("long"))
    src_n = d.groupBy("source").agg(F.count("*").cast("long").alias("ns"))
    mapped = (
        src_ranked.join(F.broadcast(src_n), "source")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("pos", F.expr("1 + (r - 1) * n DIV ns"))
        .join(corpus, "pos")
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("sum(v) DIV count(*)").cast("long").alias("mean_raw"),
            F.expr("sum(ref_v) DIV count(*)").cast("long").alias("mean_norm"),
            F.max(F.abs(F.col("ref_v") - F.col("v"))).cast("long").alias(
                "max_abs_shift"
            ),
        )
    )


QNORM_ORACLE = """
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS v FROM documents),
n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
corpus AS (
  SELECT CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT) AS pos,
         v AS ref_v
  FROM d),
src_ranked AS (
  SELECT doc_id, source, v,
         CAST(row_number() OVER (PARTITION BY source ORDER BY v, doc_id)
              AS BIGINT) AS r
  FROM d),
src_n AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY 1),
mapped AS (
  SELECT s.source, s.v, c.ref_v
  FROM src_ranked s
  JOIN src_n USING (source)
  CROSS JOIN n_tot
  JOIN corpus c ON c.pos = 1 + (s.r - 1) * n // ns)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(v) // count(*) AS BIGINT) AS mean_raw,
       CAST(sum(ref_v) // count(*) AS BIGINT) AS mean_norm,
       CAST(max(abs(ref_v - v)) AS BIGINT) AS max_abs_shift
FROM mapped GROUP BY 1
"""


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing: docs in stable doc_id order fill
    ~PACK_BUDGET-token bins (bin = exclusive running token sum ÷
    budget) within each (lang, pack_bucket) sub-stream, where the
    bucket is a deterministic hash of doc_id.

    The sub-buckets are the scale fix for the greedy running sum: a
    window partitioned by language alone is ONE task per language —
    the head language of a 100 TB corpus would serialize on a single
    core. Hash-bucketing first caps every window task at ~1/N of a
    language while keeping assignment re-run-stable; each (lang,
    bucket) still packs its own docs contiguously, and a trainer
    reads bins within a bucket exactly as before. One hash shuffle on
    (lang, bucket) for the window; the same pass at scale writes the
    shard files."""
    d = table(tune(spark), sf_dir, "documents")
    w = (
        Window.partitionBy("lang", "pack_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = d.select(
        "lang",
        _hash_bucket(F.col("doc_id"), "pack|", N_PACK_BUCKETS).alias("pack_bucket"),
        "doc_id",
        F.size(ws_tokens("text")).alias("n_tokens"),
    )
    binned = toks.withColumn(
        "bin",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET),
    )
    return binned.groupBy("lang", "pack_bucket", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SEQUENCE_PACK_ORACLE = f"""
WITH toks AS (
  SELECT lang,
         {_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "pack|", N_PACK_BUCKETS)}
           AS pack_bucket,
         doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t != ''))
           AS n_tokens
  FROM documents),
binned AS (
  SELECT lang, pack_bucket, doc_id, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY lang, pack_bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {PACK_BUDGET}) AS BIGINT) AS bin
  FROM toks)
SELECT lang, CAST(pack_bucket AS BIGINT) AS pack_bucket, bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM binned
GROUP BY 1, 2, 3
"""


def df_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level DF pruning: drop every token that appears in more
    than half of all documents; md5-certify each rewritten doc.

    Plan shape: (1) one agg over distinct (doc, token) → per-token
    document frequency; (2) the over-threshold vocabulary — a handful
    of rows — is collapsed to ONE array row and broadcast; (3) each
    doc filters its token array in codegen. The corpus is scanned
    twice but never shuffled by token content; the only wide exchange
    carries (token, df) pairs, bounded by vocabulary size not corpus
    size.
    """
    base = table(tune(spark), sf_dir, "documents")
    d = fan_out(base).select("doc_id", ws_tokens("text").alias("toks"))
    # corpus size off the raw scan: a metadata-only count, not routed
    # through the fan_out exchange or the tokenizer
    total = base.select(F.count("*").alias("n_total"))
    dfreq = (
        d.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    hi = (
        dfreq.crossJoin(F.broadcast(total))
        .filter(F.col("df") * 2 > F.col("n_total"))
        .agg(F.coalesce(F.collect_list("tok"), F.array()).alias("hi_arr"))
    )
    cleaned = d.crossJoin(F.broadcast(hi)).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.filter(
            "toks", lambda t: ~F.array_contains(F.col("hi_arr"), t)
        ).alias("clean"),
    )
    return cleaned.select(
        "doc_id",
        "n_tokens",
        F.size("clean").alias("n_kept"),
        (F.col("n_tokens") - F.size("clean")).alias("n_dropped"),
        F.md5(F.array_join("clean", " ")).alias("clean_md5"),
    )


DF_PRUNE_ORACLE = r"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
dfreq AS (
  SELECT tok, count(*) AS df
  FROM (SELECT DISTINCT doc_id, t.tok
        FROM tk, unnest(list_distinct(toks)) t(tok))
  GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM tk),
hi AS (
  SELECT coalesce(list(tok), []) AS hi_arr
  FROM dfreq, tot WHERE df * 2 > n_total),
cleaned AS (
  SELECT doc_id, len(toks) AS n_tokens,
         list_filter(toks, t -> NOT list_contains(hi_arr, t)) AS clean
  FROM tk, hi)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(len(clean) AS INT) AS n_kept,
       CAST(n_tokens - len(clean) AS INT) AS n_dropped,
       md5(coalesce(array_to_string(clean, ' '), '')) AS clean_md5
FROM cleaned
"""


#: temperature-sampling constant: keep probability ∝ K/sqrt(n_lang)
TEMP_K = 10



def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual rebalancing (the n^alpha rule,
    alpha=0.5): per-language keep probability ∝ 1/sqrt(n_lang), capped
    at 1 — head languages are down-sampled toward the tail without a
    hand-tuned rate table (contrast ``stratified_sample``).

    Plan: one tiny per-lang count agg → broadcast back onto the scan →
    row-local hash-threshold keep (re-run-stable, like the other
    bucketed samplers). The ppm threshold is floor(1e6*K/sqrt(n)):
    sqrt and division are correctly-rounded IEEE ops in both engines,
    so the floor is cross-engine exact — no round-half hazard."""
    from ..io import swap_cache

    d = table(tune(spark), sf_dir, "documents").select("doc_id", "lang")
    # lang-bounded rate table with two consumers (the keep filter and
    # the final report join) — persisted so the corpus count runs once
    rates = swap_cache(
        "corpusops.temperature",
        d.groupBy("lang")
        .agg(F.count("*").alias("n_in"))
        .withColumn(
            "p_ppm",
            F.least(
                F.lit(1_000_000),
                F.floor(F.lit(1_000_000.0 * TEMP_K) / F.sqrt(F.col("n_in"))),
            ).cast("long"),
        ),
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        _hash_bucket(F.col("doc_id"), "temp|", 1_000_000) < F.col("p_ppm")
    )
    sampled = kept.groupBy("lang").agg(
        F.count("*").alias("n_sampled"), F.min("doc_id").alias("first_doc")
    )
    return rates.join(sampled, "lang", "left").select(
        "lang",
        "n_in",
        "p_ppm",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
        "first_doc",
    )


TEMPERATURE_ORACLE = f"""
WITH rates AS (
  SELECT lang, count(*) AS n_in,
         CAST(least(1000000, floor({1_000_000.0 * TEMP_K} / sqrt(count(*)))) AS BIGINT) AS p_ppm
  FROM documents GROUP BY 1),
kept AS (
  SELECT d.lang, d.doc_id
  FROM documents d JOIN rates r USING (lang)
  WHERE ({_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "temp|", 1_000_000)}) < r.p_ppm),
s AS (
  SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
  FROM kept GROUP BY 1)
SELECT r.lang, r.n_in, r.p_ppm,
       CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled, s.first_doc
FROM rates r LEFT JOIN s USING (lang)
"""


#: total document budget apportioned across languages
MIX_BUDGET = 10_000

#: mixture weights (config-sized; broadcast literally)
MIX_WEIGHTS = {"en": 40, "de": 15, "fr": 15, "es": 15, "zh": 15}


def mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a document
    budget across languages — the exact-integer step that turns
    training-mixture weights into per-language quotas summing to the
    budget precisely (floor-only quotas under-fill; float rounding
    over/under-fills nondeterministically).

    ``base = (B·w) DIV ΣW``; the ``B - Σbase`` leftover goes to the
    largest ``(B·w) MOD ΣW`` remainders (lang tiebreak). Everything
    is integer arithmetic, so both engines agree bit-for-bit.

    Scale shape: the mixture table is config-sized (languages ×
    sources, thousands at most) — the apportionment window is
    trivially small; the corpus-sized part is only the per-language
    availability count, one map-side-combined aggregate."""
    d = table(tune(spark), sf_dir, "documents")
    wsum = sum(MIX_WEIGHTS.values())
    wmap = F.create_map(
        *[F.lit(x) for kv in MIX_WEIGHTS.items() for x in kv]
    )
    avail = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_avail"))
        .withColumn("weight", F.coalesce(wmap[F.col("lang")], F.lit(0)).cast("long"))
    )
    scored = avail.select(
        "lang",
        "weight",
        "n_avail",
        F.expr(f"{MIX_BUDGET} * weight DIV {wsum}").alias("base_quota"),
        F.expr(f"({MIX_BUDGET} * weight) % {wsum}").alias("rem"),
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("lang"))
    w_all = Window.partitionBy()
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "leftover", F.lit(MIX_BUDGET) - F.sum("base_quota").over(w_all)
        )
        .withColumn(
            "extra", (F.col("rank") <= F.col("leftover")).cast("int")
        )
        .select(
            "lang",
            "weight",
            "n_avail",
            "base_quota",
            "extra",
            (F.col("base_quota") + F.col("extra")).alias("final_quota"),
        )
    )


MIXTURE_ORACLE = f"""
WITH avail AS (
  SELECT lang, count(*) AS n_avail FROM documents GROUP BY 1),
weighted AS (
  SELECT lang, n_avail,
         CAST(CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())}
              ELSE 0 END AS BIGINT) AS weight
  FROM avail),
scored AS (
  SELECT lang, weight, n_avail,
         ({MIX_BUDGET} * weight) // {sum(MIX_WEIGHTS.values())} AS base_quota,
         ({MIX_BUDGET} * weight) % {sum(MIX_WEIGHTS.values())} AS rem
  FROM weighted),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rank,
         {MIX_BUDGET} - sum(base_quota) OVER () AS leftover
  FROM scored)
SELECT lang, weight, n_avail,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(rank <= leftover AS INT) AS extra,
       CAST(base_quota + CAST(rank <= leftover AS INT) AS BIGINT) AS final_quota
FROM ranked
"""


def source_ablation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out ablation accounting — the question a
    data curator asks before dropping or renegotiating a source:
    what fraction of the corpus leaves with source s, and how far
    does the per-language composition shift without it?  k sources
    are priced from ONE (lang, source) aggregate — never k corpus
    scans (the `dedup_threshold_sensitivity` / `session_gap_
    sensitivity` one-pass-sweep discipline).

    Integer contract: composition shares are floor-ppm of token
    mass; the reported shift is max over languages of
    |share_without(l) − share_with(l)| with the shifted language
    named (ties to the lexically smallest).  A missing (lang,
    source) cell counts 0 via the langs × sources cross frame —
    both bounded by the catalog, not the corpus.

    Scale shape: one map-side-combined (lang, source) token
    aggregate is the only corpus-sized work; everything after runs
    on a |langs|·|sources| grid."""
    from ..io import swap_cache

    d = fan_out(table(tune(spark), sf_dir, "documents"))
    # the config-sized grid feeds six consumers below — cache it so
    # the corpus-sized token aggregate runs exactly once
    grid = swap_cache(
        "corpusops.ablation_grid",
        d.select(
            "lang",
            "source",
            F.size(ws_tokens("text")).cast("long").alias("n_tok"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("toks"),
        ),
    )
    langs = grid.select("lang").distinct()
    sources = grid.select("source").distinct()
    by_lang = grid.groupBy("lang").agg(
        F.sum("toks").cast("long").alias("t_l")
    )
    by_src = grid.groupBy("source").agg(
        F.sum("toks").cast("long").alias("t_s"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )
    total = grid.agg(F.sum("toks").cast("long").alias("t")).collect()[0][
        "t"
    ]
    cross = (
        langs.crossJoin(sources)
        .join(grid.select("lang", "source", "toks"), ["lang", "source"], "left")
        .na.fill({"toks": 0})
        .join(F.broadcast(by_lang), "lang")
        .join(F.broadcast(by_src), "source")
    )
    with_ppm = F.expr(
        f"CAST(CAST(1000000 AS DECIMAL(38,0)) * t_l DIV {total} AS BIGINT)"
    )
    without_ppm = F.expr(
        "CAST(CAST(1000000 AS DECIMAL(38,0)) * (t_l - toks)"
        f" DIV ({total} - t_s) AS BIGINT)"
    )
    # single-source corpus: dropping the only source leaves nothing
    # to measure composition on (total = t_s divides by zero) —
    # define the shift as 0 on both engines (round-13 advice item 3)
    shifted = cross.select(
        "source",
        "lang",
        "n_docs",
        "t_s",
        F.when(F.col("t_s") == F.lit(total), F.lit(0))
        .otherwise(F.abs(without_ppm - with_ppm))
        .cast("long")
        .alias("shift_ppm"),
    )
    best = shifted.groupBy("source").agg(
        F.max(
            F.struct(
                F.col("shift_ppm").alias("v"),
                # lexicographic-smallest lang on ties: invert via
                # unicode complement is overkill — a struct-max on
                # (v, negated-rank) needs a rank; use min(lang) among
                # argmax rows instead, derived below
                F.col("lang").alias("lang"),
            )
        ).alias("b"),
        F.max("n_docs").alias("_nd"),
        F.max("t_s").alias("_ts"),
    )
    # struct-max tie-break picks the lexicographically LARGEST lang
    # among equal shifts; re-derive the smallest explicitly so the
    # tiebreak is the documented one
    argmin = (
        shifted.join(
            best.select(
                "source", F.col("b.v").alias("max_shift_ppm")
            ),
            "source",
        )
        .filter(F.col("shift_ppm") == F.col("max_shift_ppm"))
        .groupBy("source")
        .agg(F.min("lang").alias("shifted_lang"))
    )
    return (
        by_src.join(F.broadcast(argmin), "source")
        .join(
            F.broadcast(
                best.select("source", F.col("b.v").alias("max_shift_ppm"))
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            F.col("t_s").alias("n_tokens"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * t_s"
                f" DIV {total} AS BIGINT)"
            ).alias("share_ppm"),
            "max_shift_ppm",
            "shifted_lang",
        )
        .orderBy("source")
    )


SOURCE_ABLATION_ORACLE = r"""
WITH grid AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  t -> t != ''))) AS BIGINT) AS toks
  FROM documents GROUP BY 1, 2),
tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t FROM grid),
by_lang AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS t_l FROM grid GROUP BY 1),
by_src AS (
  SELECT source, CAST(sum(toks) AS BIGINT) AS t_s,
         CAST(sum(n_docs) AS BIGINT) AS n_docs
  FROM grid GROUP BY 1),
crossg AS (
  SELECT l.lang, s.source, coalesce(g.toks, 0) AS toks, bl.t_l, bs.t_s
  FROM (SELECT DISTINCT lang FROM grid) l
  CROSS JOIN (SELECT DISTINCT source FROM grid) s
  LEFT JOIN grid g ON g.lang = l.lang AND g.source = s.source
  JOIN by_lang bl ON bl.lang = l.lang
  JOIN by_src bs ON bs.source = s.source),
shifted AS (
  SELECT source, lang,
         CASE WHEN t_s = (SELECT t FROM tot) THEN 0
              ELSE abs(CAST(1000000 AS HUGEINT) * (t_l - toks)
                         // ((SELECT t FROM tot) - t_s)
                   - CAST(1000000 AS HUGEINT) * t_l // (SELECT t FROM tot))
         END AS shift_ppm
  FROM crossg),
best AS (
  SELECT source, CAST(max(shift_ppm) AS BIGINT) AS max_shift_ppm
  FROM shifted GROUP BY 1),
arg AS (
  SELECT s.source, min(s.lang) AS shifted_lang
  FROM shifted s JOIN best b
    ON s.source = b.source AND s.shift_ppm = b.max_shift_ppm
  GROUP BY 1)
SELECT bs.source, bs.n_docs, bs.t_s AS n_tokens,
       CAST(CAST(1000000 AS HUGEINT) * bs.t_s // (SELECT t FROM tot)
            AS BIGINT) AS share_ppm,
       b.max_shift_ppm, a.shifted_lang
FROM by_src bs JOIN best b ON bs.source = b.source
JOIN arg a ON bs.source = a.source
ORDER BY 1
"""


#: temperature-sampling token budget (τ = 1/2 mixing)
TEMP_BUDGET = 500_000


def mixture_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based training-data mixing at τ = 1/2 — the
    sampling rule multilingual LLM pipelines actually use
    (p_l ∝ n_l^τ; τ = 1 reproduces natural proportions and drowns
    low-resource languages, τ → 0 flattens to uniform and over-epochs
    them; τ = 1/2 is the standard compromise): per-language token
    mass → √-damped weight → Hamilton-apportioned token budget →
    implied epoch factor.

    Exactness: n^(1/2) is irrational, but the INTEGER square root is
    not — ``isqrt(n) = floor(√n)`` is computed as the float sqrt
    followed by a ±1 integer correction (s ← s − [s² > n];
    s ← s + [(s+1)² ≤ n]), which repairs any double-rounding drift
    by exact integer multiplication, so both engines produce the
    exact isqrt for any n < 2⁵².  The apportionment is the certified
    largest-remainder rule of `mixture_allocation`, and the epoch
    factor floor(1e6·quota/n_l) is integer ppm.

    Scale shape: one map-side-combined token aggregate is the only
    corpus-sized work; the weight/apportionment frame is
    |languages| rows with a bounded window."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    toks = (
        d.select(
            "lang",
            F.size(ws_tokens("text")).cast("long").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens_total"))
    )
    s0 = F.expr(
        "CAST(floor(sqrt(CAST(n_tokens_total AS DOUBLE))) AS BIGINT)"
    )
    s1 = s0 - (s0 * s0 > F.col("n_tokens_total")).cast("long")
    isq = s1 + ((s1 + 1) * (s1 + 1) <= F.col("n_tokens_total")).cast(
        "long"
    )
    weighted = toks.select(
        "lang", "n_tokens_total", isq.alias("weight_isqrt")
    )
    w_all = Window.partitionBy()
    scored = weighted.select(
        "lang",
        "n_tokens_total",
        "weight_isqrt",
        F.sum("weight_isqrt").over(w_all).alias("wsum"),
    ).select(
        "lang",
        "n_tokens_total",
        "weight_isqrt",
        F.expr(f"{TEMP_BUDGET} * weight_isqrt DIV wsum").alias(
            "base_quota"
        ),
        F.expr(f"({TEMP_BUDGET} * weight_isqrt) % wsum").alias("rem"),
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("lang"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "leftover",
            F.lit(TEMP_BUDGET) - F.sum("base_quota").over(w_all),
        )
        .withColumn(
            "extra", (F.col("rank") <= F.col("leftover")).cast("int")
        )
        .select(
            "lang",
            "n_tokens_total",
            "weight_isqrt",
            F.col("base_quota").cast("long").alias("base_quota"),
            "extra",
            (F.col("base_quota") + F.col("extra"))
            .cast("long")
            .alias("final_quota"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * (base_quota + extra)"
                " DIV n_tokens_total AS BIGINT)"
            ).alias("epochs_ppm"),
        )
    )


TEMP_MIX_ORACLE = rf"""
WITH toks AS (
  SELECT lang,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  t -> t != ''))) AS BIGINT)
           AS n_tokens_total
  FROM documents GROUP BY 1),
isq0 AS (
  SELECT lang, n_tokens_total,
         CAST(floor(sqrt(CAST(n_tokens_total AS DOUBLE))) AS BIGINT) AS s0
  FROM toks),
isq1 AS (
  SELECT lang, n_tokens_total,
         s0 - CASE WHEN s0 * s0 > n_tokens_total THEN 1 ELSE 0 END AS s1
  FROM isq0),
weighted AS (
  SELECT lang, n_tokens_total,
         s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens_total
                   THEN 1 ELSE 0 END AS weight_isqrt
  FROM isq1),
scored AS (
  SELECT lang, n_tokens_total, weight_isqrt,
         ({TEMP_BUDGET} * weight_isqrt) // sum(weight_isqrt) OVER ()
           AS base_quota,
         ({TEMP_BUDGET} * weight_isqrt) % sum(weight_isqrt) OVER ()
           AS rem
  FROM weighted),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rank,
         {TEMP_BUDGET} - sum(base_quota) OVER () AS leftover
  FROM scored)
SELECT lang, n_tokens_total, CAST(weight_isqrt AS BIGINT) AS weight_isqrt,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(rank <= leftover AS INT) AS extra,
       CAST(base_quota + CAST(rank <= leftover AS INT) AS BIGINT)
         AS final_quota,
       CAST(CAST(1000000 AS HUGEINT)
            * (base_quota + CAST(rank <= leftover AS INT))
            // n_tokens_total AS BIGINT) AS epochs_ppm
FROM ranked
"""


#: sampling budget apportioned by the Neyman design
NEYMAN_BUDGET = 10_000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-style OPTIMAL stratified-sampling design (Neyman 1934):
    apportion a sample budget across strata proportionally to
    N_h · dispersion_h — the allocation that minimizes the variance
    of the stratified estimator, the design step a data-quality team
    runs before auditing a 100 TB corpus (uniform per-stratum
    sampling over-samples homogeneous strata and starves volatile
    ones).

    Exactness: the classic N_h·σ_h weight needs a square root, so
    this uses the MAD form — dispersion = mean absolute deviation —
    whose weight N_h·MAD_h = D_h/N_h is rational with
    D_h = Σ_i |N_h·x_i − S_h| an exact integer (x = n_chars,
    S_h = Σx).  The weight is floored to the e6 grid
    (``1e6·D_h DIV N_h`` in DECIMAL(38,0) — D_h alone can pass int64
    at ~1e8 rows/stratum), then the budget apportions by the exact
    largest-remainder (Hamilton) rule `mixture_allocation` certified.
    ``capped_quota`` guards oversubscription (quota > availability).

    Scale shape: two map-side-combined corpus aggregates (moments,
    then deviations against the broadcast per-stratum moments); the
    apportionment windows run on the stratum frame (≤ languages —
    config-sized, the allowlisted mixture pattern)."""
    d = table(tune(spark), sf_dir, "documents").select(
        "lang", F.col("n_chars").cast("long").alias("x")
    )
    mom = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = (
        d.join(F.broadcast(mom), "lang")
        .select(
            "lang",
            F.abs(
                F.col("n_docs") * F.col("x") - F.col("s")
            ).cast("decimal(38,0)").alias("ad"),
        )
        .groupBy("lang")
        .agg(F.sum("ad").alias("d_sum"))
    )
    strata = mom.join(dev, "lang").select(
        "lang",
        "n_docs",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * d_sum DIV n_docs"
            " AS DECIMAL(38,0))"
        ).alias("w"),
    )
    w_all = Window.partitionBy()
    scored = strata.withColumn("wsum", F.sum("w").over(w_all)).select(
        "lang",
        "n_docs",
        F.col("w").cast("long").alias("weight_e6"),
        F.expr(f"CAST({NEYMAN_BUDGET} * w DIV wsum AS BIGINT)").alias(
            "base_quota"
        ),
        F.expr(f"CAST(({NEYMAN_BUDGET} * w) % wsum AS DECIMAL(38,0))").alias(
            "rem"
        ),
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("lang"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "leftover",
            F.lit(NEYMAN_BUDGET) - F.sum("base_quota").over(w_all),
        )
        .withColumn("extra", (F.col("rank") <= F.col("leftover")).cast("int"))
        .select(
            "lang",
            "n_docs",
            "weight_e6",
            "base_quota",
            "extra",
            (F.col("base_quota") + F.col("extra"))
            .cast("long")
            .alias("final_quota"),
            F.least(
                F.col("base_quota") + F.col("extra"), F.col("n_docs")
            )
            .cast("long")
            .alias("capped_quota"),
        )
    )


NEYMAN_ORACLE = f"""
WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents),
mom AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(x) AS BIGINT) AS s
  FROM d GROUP BY 1),
dev AS (
  SELECT d.lang, sum(CAST(abs(m.n_docs * d.x - m.s) AS HUGEINT)) AS d_sum
  FROM d JOIN mom m USING (lang) GROUP BY 1),
strata AS (
  SELECT m.lang, m.n_docs,
         CAST(1000000 AS HUGEINT) * v.d_sum // m.n_docs AS w
  FROM mom m JOIN dev v USING (lang)),
scored AS (
  SELECT lang, n_docs, w,
         ({NEYMAN_BUDGET} * w) // (SELECT sum(w) FROM strata) AS base_quota,
         ({NEYMAN_BUDGET} * w) % (SELECT sum(w) FROM strata) AS rem
  FROM strata),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rank,
         {NEYMAN_BUDGET} - sum(base_quota) OVER () AS leftover
  FROM scored)
SELECT lang, n_docs,
       CAST(w AS BIGINT) AS weight_e6,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(CASE WHEN rank <= leftover THEN 1 ELSE 0 END AS INT) AS extra,
       CAST(base_quota + CASE WHEN rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS final_quota,
       CAST(least(base_quota + CASE WHEN rank <= leftover THEN 1 ELSE 0 END,
                  n_docs) AS BIGINT) AS capped_quota
FROM ranked
"""


def hierarchical_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level largest-remainder apportionment: the language quotas
    of ``mixture_allocation`` subdivided across each language's
    sources proportionally to availability — the full manifest a
    mixture-weighted training run samples from. Per-source quotas sum
    exactly to their language quota (which sum exactly to the
    budget); every step is integer arithmetic.

    Scale: the apportionment runs on the (lang × source) config-sized
    grid; only the availability counts touch the corpus."""
    lang_q = mixture_allocation(spark, sf_dir).select("lang", "final_quota")
    d = table(tune(spark), sf_dir, "documents")
    avail = d.groupBy("lang", "source").agg(F.count("*").alias("n_avail"))
    # language totals as a window over the config-sized grid — a
    # re-aggregate joined back re-scans the corpus (scan_sweep)
    j = (
        avail.withColumn(
            "n_lang",
            F.sum("n_avail").over(Window.partitionBy("lang")).cast("long"),
        )
        .join(F.broadcast(lang_q), "lang")
        .select(
            "lang",
            "source",
            "n_avail",
            F.col("final_quota").alias("lang_quota"),
            F.expr("final_quota * n_avail DIV n_lang").alias("base_quota"),
            F.expr("(final_quota * n_avail) % n_lang").alias("rem"),
        )
    )
    w_rank = Window.partitionBy("lang").orderBy(F.desc("rem"), F.asc("source"))
    w_lang = Window.partitionBy("lang")
    return (
        j.withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "leftover", F.col("lang_quota") - F.sum("base_quota").over(w_lang)
        )
        .select(
            "lang",
            "source",
            "n_avail",
            "lang_quota",
            (
                F.col("base_quota")
                + (F.col("rank") <= F.col("leftover")).cast("long")
            ).alias("src_quota"),
        )
    )


HIERARCHICAL_MIXTURE_ORACLE = f"""
WITH avail AS (
  SELECT lang, source, count(*) AS n_avail FROM documents GROUP BY 1, 2),
weighted AS (
  SELECT lang,
         CAST(CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_WEIGHTS.items())}
              ELSE 0 END AS BIGINT) AS weight
  FROM (SELECT DISTINCT lang FROM documents)),
lscored AS (
  SELECT lang, weight,
         ({MIX_BUDGET} * weight) // {sum(MIX_WEIGHTS.values())} AS base_quota,
         ({MIX_BUDGET} * weight) % {sum(MIX_WEIGHTS.values())} AS rem
  FROM weighted),
lranked AS (
  SELECT *,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rank,
         {MIX_BUDGET} - sum(base_quota) OVER () AS leftover
  FROM lscored),
lang_q AS (
  SELECT lang,
         CAST(base_quota + CAST(rank <= leftover AS INT) AS BIGINT) AS lang_quota
  FROM lranked),
tot_l AS (
  SELECT lang, CAST(sum(n_avail) AS BIGINT) AS n_lang FROM avail GROUP BY 1),
j AS (
  SELECT a.lang, a.source, a.n_avail, q.lang_quota,
         (q.lang_quota * a.n_avail) // t.n_lang AS base_quota,
         (q.lang_quota * a.n_avail) % t.n_lang AS rem
  FROM avail a JOIN tot_l t USING (lang) JOIN lang_q q USING (lang)),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY rem DESC, source ASC)
           AS rank,
         lang_quota - sum(base_quota) OVER (PARTITION BY lang) AS leftover
  FROM j)
SELECT lang, source, n_avail, lang_quota,
       CAST(base_quota + CAST(rank <= leftover AS INT) AS BIGINT) AS src_quota
FROM ranked
"""


#: docs kept per language by the balanced sampler
PER_GROUP_M = 20


def per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic balanced sampling: the PER_GROUP_M documents per
    language with the smallest ``md5('sample|' || doc_id)`` — a
    uniform, seed-stable per-group sample (the eval-set construction
    primitive: same corpus in, same sample out, on any engine or
    cluster shape).

    Scale: one window per language ordered by the hash — at real
    scale this runs as the same two-level tournament as the posting
    heads; the fixture keeps the single window."""
    d = table(tune(spark), sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    w = Window.partitionBy("lang").orderBy("skey", "doc_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PER_GROUP_M)
        .select("lang", "rank", "doc_id")
    )


PER_GROUP_SAMPLE_ORACLE = f"""
WITH keyed AS (
  SELECT lang, doc_id,
         md5('sample|' || CAST(doc_id AS VARCHAR)) AS skey
  FROM documents),
ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rank
  FROM keyed)
SELECT lang, CAST(rank AS INT) AS rank, doc_id
FROM ranked WHERE rank <= {PER_GROUP_M}
"""


#: DSIR hashed-feature buckets (the n-gram hash table size); small
#: enough to broadcast, large enough that collisions stay rare on
#: the fixture vocabulary
DSIR_BUCKETS = 512
#: the target domain: importance weights up-weight docs whose hashed
#: bigram profile looks like this slice of the corpus
DSIR_TARGET_LANG = "en"



def dsir_importance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-resampling sufficient statistics
    (Data Selection with Importance Resampling, Xie et al. 2023):
    hash each document's bigrams into ``DSIR_BUCKETS`` features,
    estimate a target distribution (docs with ``lang = en``) and the
    source distribution (whole corpus) over those buckets, and emit
    per-doc integer mass sums under each — the importance weight
    ``Π p_tgt(f)/p_src(f)`` is a driver-side float step away, while
    the engine output stays exact: per-doc bigram count, summed
    target-ppm, summed source-ppm, and their integer ratio.

    Scale shape: one row-local bigram explode; source and target
    bucket masses come out of ONE conditional aggregate (a separate
    filtered branch per distribution re-runs the explode), the
    DSIR_BUCKETS-row bucket table persists for the invocation and
    broadcasts back; the per-doc aggregate is the only other
    corpus-sized pass — two total, the minimum for
    profile-then-score.  No window, no self-join."""
    d = (
        fan_out(table(tune(spark), sf_dir, "documents"))
        .select("doc_id", "lang", ws_tokens("text").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    bg_col = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    db = d.select("doc_id", "lang", F.explode(bg_col).alias("bg")).withColumn(
        "fb", _hash_bucket(F.col("bg"), "dsir|", DSIR_BUCKETS)
    )
    from ..io import swap_cache

    margins = swap_cache(
        "corpusops.dsir",
        db.groupBy("fb").agg(
            F.count("*").alias("n_src"),
            F.count(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1)
            ).alias("n_tgt"),
        ),
    )
    tot = margins.agg(
        F.sum("n_src").cast("long").alias("tot_src"),
        F.sum("n_tgt").cast("long").alias("tot_tgt"),
    )
    bucket_tbl = (
        margins
        .crossJoin(F.broadcast(tot))  # 1-row scalar totals, by design
        .select(
            "fb",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * coalesce(n_tgt, 0)"
                " DIV tot_tgt AS BIGINT)"
            ).alias("t_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_src"
                " DIV tot_src AS BIGINT)"
            ).alias("s_ppm"),
        )
    )
    return (
        db.join(F.broadcast(bucket_tbl), "fb")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("t_ppm").cast("long").alias("tgt_mass_ppm"),
            F.sum("s_ppm").cast("long").alias("src_mass_ppm"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "tgt_mass_ppm",
            "src_mass_ppm",
            # src_mass_ppm can be 0 despite every bigram being in the
            # source counts: integer ppm floors to 0 for buckets rarer
            # than 1-per-million.  NULL ratio in that case (both
            # engines agree on NULL semantics here).
            F.expr(
                "CASE WHEN src_mass_ppm > 0 THEN"
                " CAST(CAST(1000000 AS DECIMAL(38,0)) * tgt_mass_ppm"
                " DIV src_mass_ppm AS BIGINT) END"
            ).alias("dsir_ratio_ppm"),
        )
    )


def _dsir_oracle() -> str:
    fb = _hash_bucket_sql("bg", "dsir|", DSIR_BUCKETS)
    return rf"""
WITH tk AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
db AS (
  SELECT doc_id, lang, {fb} AS fb
  FROM (SELECT doc_id, lang, toks[i] || ' ' || toks[i + 1] AS bg
        FROM tk, unnest(range(1, len(toks))) t(i)
        WHERE len(toks) >= 2)),
src AS (SELECT fb, count(*) AS n_src FROM db GROUP BY 1),
tgt AS (SELECT fb, count(*) AS n_tgt FROM db WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(sum(n_src) AS BIGINT) FROM src) AS tot_src,
         (SELECT CAST(sum(n_tgt) AS BIGINT) FROM tgt) AS tot_tgt),
bucket_tbl AS (
  SELECT s.fb,
         CAST(CAST(1000000 AS HUGEINT) * coalesce(t.n_tgt, 0) // tot.tot_tgt
              AS BIGINT) AS t_ppm,
         CAST(CAST(1000000 AS HUGEINT) * s.n_src // tot.tot_src
              AS BIGINT) AS s_ppm
  FROM src s LEFT JOIN tgt t USING (fb), tot),
per_doc AS (
  SELECT db.doc_id, count(*) AS n_bigrams,
         CAST(sum(b.t_ppm) AS BIGINT) AS tgt_mass_ppm,
         CAST(sum(b.s_ppm) AS BIGINT) AS src_mass_ppm
  FROM db JOIN bucket_tbl b USING (fb)
  GROUP BY 1)
SELECT doc_id, n_bigrams, tgt_mass_ppm, src_mass_ppm,
       CASE WHEN src_mass_ppm > 0 THEN
         CAST(CAST(1000000 AS HUGEINT) * tgt_mass_ppm // src_mass_ppm AS BIGINT)
       END AS dsir_ratio_ppm
FROM per_doc
"""


DSIR_ORACLE = _dsir_oracle()


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility profile per (lang, source): document count,
    whitespace-token mass, character mass, and the exact integer
    chars-per-token ppm quotient — the statistic that prices a corpus
    in tokens before a training run and flags segments (e.g. CJK vs
    Latin) where a byte-level budget misestimates the token budget.

    Scale shape: row-local token/char counts fused into the scan, one
    map-side-combined groupBy over a (lang, source) key space bounded
    by the catalog, not the corpus."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    return (
        d.select(
            "lang",
            "source",
            F.size(ws_tokens("text")).cast("long").alias("n_toks"),
            F.length("text").cast("long").alias("n_chars"),
        )
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("tok_sum"),
            F.sum("n_chars").cast("long").alias("char_sum"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "tok_sum",
            "char_sum",
            # DECIMAL premultiply: 1e6·char_sum wraps int64 at ~9e12
            # corpus characters — i.e. before 100 TB
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * char_sum"
                " DIV greatest(tok_sum, 1) AS BIGINT)"
            ).alias("chars_per_tok_ppm"),
        )
    )


TOKENIZER_FERTILITY_ORACLE = r"""
WITH per_doc AS (
  SELECT lang, source,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> t != '')) AS BIGINT) AS n_toks,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS tok_sum,
       CAST(sum(n_chars) AS BIGINT) AS char_sum,
       CAST(CAST(1000000 AS HUGEINT) * sum(n_chars)
            // greatest(sum(n_toks), 1) AS BIGINT) AS chars_per_tok_ppm
FROM per_doc
GROUP BY 1, 2
"""


#: docs kept per language by the weighted sampler
WEIGHTED_SAMPLE_K = 20
#: tournament sub-buckets per language (parallelism floor of stage 1)
WEIGHTED_SAMPLE_BUCKETS = 8


def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement, K docs per
    language, inclusion odds ∝ document length — the integer-exact
    analogue of the exponential-race (Efraimidis–Spirakis) reservoir:
    each doc draws a salted-md5 uniform u ∈ [0, 2³²) and competes on
    ``priority = u DIV weight`` (smaller wins; heavier docs shrink
    their key, exactly like ``-ln(u)/w``).  Integer division keeps the
    race bit-identical cross-engine — no ``ln`` ulps at the selection
    boundary.

    Selection is a two-level tournament (the `token_bigram_lm`
    pattern): top-K inside each (lang, hash-bucket) — many small
    window tasks — then top-K of the ≤ B·K survivors per language.
    No language ever sorts on a single task."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    weighted = d.select(
        "lang",
        "doc_id",
        F.greatest(F.length("text").cast("long"), F.lit(1)).alias("weight"),
        u.alias("u"),
    ).withColumn("priority", F.expr("u div weight"))
    wb = Window.partitionBy("lang", "sb").orderBy("priority", "doc_id")
    wl = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (
        weighted.withColumn(
            "sb",
            _hash_bucket(F.col("doc_id"), "wsbucket|", WEIGHTED_SAMPLE_BUCKETS),
        )
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= WEIGHTED_SAMPLE_K)
        .withColumn("rank", F.row_number().over(wl))
        .filter(F.col("rank") <= WEIGHTED_SAMPLE_K)
        .select("lang", "rank", "doc_id", "weight", "priority")
    )


def _weighted_sample_oracle() -> str:
    u_sql = _hex8_sql("md5('wsample|' || CAST(doc_id AS VARCHAR))", 1)
    return f"""
WITH weighted AS (
  SELECT lang, doc_id,
         greatest(CAST(length(text) AS BIGINT), 1) AS weight,
         CAST({u_sql} AS BIGINT) AS u
  FROM documents),
ranked AS (
  SELECT lang, doc_id, weight, u // weight AS priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY u // weight, doc_id) AS rank
  FROM weighted)
SELECT lang, CAST(rank AS INT) AS rank, doc_id, weight,
       CAST(priority AS BIGINT) AS priority
FROM ranked WHERE rank <= {WEIGHTED_SAMPLE_K}
"""


WEIGHTED_SAMPLE_ORACLE = _weighted_sample_oracle()


#: temperature sweep: alpha values in percent (n^-alpha sampling)
SWEEP_ALPHAS = (25, 50, 75)


def temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-sensitivity sweep: `temperature_resample`'s n^-alpha
    rebalancing evaluated at three alphas IN ONE PASS — the report a
    data-mixture owner reads before picking the temperature.  All
    three samples share the hash salt, so they are NESTED (a doc kept
    at the aggressive alpha is kept at every gentler one) — sweeps
    stay comparable row-for-row, not just in aggregate.

    Determinism: n^alpha is composed from sqrt only (n^.25 =
    sqrt(sqrt n), n^.75 = sqrt·sqrt∘sqrt) — sqrt is correctly rounded
    in IEEE while pow is not, so both engines compute identical bits.

    Scale: per-lang count agg (tiny) × 3 alphas broadcast back onto
    one corpus scan; row-local threshold filter; one groupBy."""
    d = table(tune(spark), sf_dir, "documents").select("doc_id", "lang")
    pow_expr = (
        "CASE WHEN alpha_pct = 25 THEN sqrt(sqrt(CAST(n_in AS DOUBLE)))"
        " WHEN alpha_pct = 50 THEN sqrt(CAST(n_in AS DOUBLE))"
        " ELSE sqrt(CAST(n_in AS DOUBLE)) * sqrt(sqrt(CAST(n_in AS DOUBLE)))"
        " END"
    )
    from ..io import swap_cache

    # (lang × alpha)-bounded rate table with two consumers — persisted
    # so the corpus count runs once (scan_sweep finding)
    rates = swap_cache(
        "corpusops.sweep",
        d.groupBy("lang")
        .agg(F.count("*").alias("n_in"))
        .withColumn(
            "alpha_pct",
            F.explode(F.array(*[F.lit(a) for a in SWEEP_ALPHAS])),
        )
        .withColumn(
            "p_ppm",
            F.expr(
                f"CAST(least(1000000, floor(1000000.0 * {TEMP_K}"
                f" / ({pow_expr}))) AS BIGINT)"
            ),
        ),
    )
    kept = d.join(F.broadcast(rates), "lang").filter(
        _hash_bucket(F.col("doc_id"), "temp|", 1_000_000) < F.col("p_ppm")
    )
    sampled = kept.groupBy("alpha_pct", "lang").agg(
        F.count("*").alias("n_sampled")
    )
    return rates.join(sampled, ["alpha_pct", "lang"], "left").select(
        "alpha_pct",
        "lang",
        "n_in",
        "p_ppm",
        F.coalesce(F.col("n_sampled"), F.lit(0)).cast("long").alias("n_sampled"),
    )


def _sweep_oracle() -> str:
    pow_sql = (
        "CASE WHEN t.a = 25 THEN sqrt(sqrt(CAST(n_in AS DOUBLE)))"
        " WHEN t.a = 50 THEN sqrt(CAST(n_in AS DOUBLE))"
        " ELSE sqrt(CAST(n_in AS DOUBLE)) * sqrt(sqrt(CAST(n_in AS DOUBLE)))"
        " END"
    )
    alphas = ", ".join(str(a) for a in SWEEP_ALPHAS)
    return f"""
WITH rates AS (
  SELECT lang, count(*) AS n_in FROM documents GROUP BY 1),
grid AS (
  SELECT lang, n_in, CAST(t.a AS INT) AS alpha_pct,
         CAST(least(1000000, floor(1000000.0 * {TEMP_K} / ({pow_sql})))
              AS BIGINT) AS p_ppm
  FROM rates, unnest([{alphas}]) t(a)),
kept AS (
  SELECT g.alpha_pct, g.lang
  FROM documents d JOIN grid g USING (lang)
  WHERE ({_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "temp|", 1_000_000)})
        < g.p_ppm),
s AS (
  SELECT alpha_pct, lang, count(*) AS n_sampled FROM kept GROUP BY 1, 2)
SELECT g.alpha_pct, g.lang, g.n_in, g.p_ppm,
       CAST(coalesce(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM grid g LEFT JOIN s USING (alpha_pct, lang)
"""


TEMPERATURE_SWEEP_ORACLE = _sweep_oracle()


#: water-fill budget as a fraction (ppm) of total available tokens
WATERFILL_BUDGET_PPM = 500_000


WATERFILL_FILL_SQL = f"""
        WITH tot AS (
          SELECT CAST(sum(cap) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(CAST({WATERFILL_BUDGET_PPM} AS DECIMAL(38,0)) * sum(cap)
                      DIV 1000000 AS BIGINT) AS budget
          FROM wf_caps),
        s AS (
          SELECT source, cap,
                 row_number() OVER (ORDER BY cap ASC, source ASC) AS rk,
                 sum(cap) OVER (ORDER BY cap ASC, source ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM wf_caps),
        -- candidate saturation prefixes: k sources take their cap,
        -- the remaining n-k share (budget - cum_k) evenly
        cand AS (
          SELECT k.k, (t.budget - coalesce(p.cum, 0)) DIV (t.n - k.k) AS level
          FROM (SELECT rk AS k FROM s UNION ALL SELECT 0) k
          CROSS JOIN tot t
          LEFT JOIN s p ON p.rk = k.k
          WHERE k.k < t.n),
        valid AS (
          SELECT c.k, c.level
          FROM cand c
          LEFT JOIN s lo ON lo.rk = c.k
          LEFT JOIN s hi ON hi.rk = c.k + 1
          WHERE (lo.cap IS NULL OR lo.cap <= c.level)
            AND (hi.cap IS NULL OR c.level < hi.cap)
          ORDER BY c.k ASC
          LIMIT 1),
        leveled AS (
          SELECT s.source, s.cap, t.budget, t.total,
                 CASE WHEN t.budget >= t.total THEN s.cap
                      WHEN s.rk <= v.k THEN s.cap
                      ELSE v.level END AS base_alloc,
                 CASE WHEN t.budget < t.total AND s.rk > v.k THEN 1 ELSE 0 END
                   AS uncapped
          FROM s CROSS JOIN tot t LEFT JOIN valid v ON true),
        rem AS (
          SELECT *,
                 budget - sum(base_alloc) OVER () AS leftover,
                 row_number() OVER (ORDER BY uncapped DESC, cap DESC, source ASC)
                   AS bonus_rk
          FROM leveled)
        SELECT source, cap,
               CAST(base_alloc + CASE WHEN uncapped = 1 AND bonus_rk <= leftover
                                      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM rem
        """



def capped_waterfill_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped water-filling: allocate a token budget across sources
    so every source gets an EQUAL level except those whose
    availability caps out — the max-min-fair mixture rule (each
    source gets ``min(cap, L)`` with the water level L chosen so the
    allocations sum to the budget exactly).  Hamilton apportionment
    (`mixture_allocation`) divides by fixed WEIGHTS; water-filling
    divides by equal SHARES under caps — the rule used when no
    source may be over-sampled past its natural size.

    Exact-integer construction: caps sorted ascending with cumulative
    sums; for each candidate saturation prefix k, the trial level is
    ``(B − cum_k) DIV (n − k)`` and the unique valid k satisfies
    ``cap_k ≤ L_k < next cap``; the division's remainder goes +1
    each to the largest-cap unsaturated sources (source-name
    tiebreak), so Σ alloc == B bit-for-bit in both engines.  If the
    budget covers every cap, every source just gets its cap.

    Scale shape: the per-source token count is the only corpus-sized
    pass (map-side combined); the fill itself runs on the
    config-sized source table (windows over ≤ thousands of rows).
    The caps table is persisted for the invocation (``io.swap_cache``)
    because the fill SQL references the ``wf_caps`` view from six
    CTEs — temp views are un-materialized lineage, so each reference
    would re-run the corpus tokenize pass."""
    from ..io import swap_cache

    d = table(tune(spark), sf_dir, "documents")
    caps = d.groupBy("source").agg(
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("cap")
    )
    caps = swap_cache("corpusops.waterfill", caps)
    caps.createOrReplaceTempView("wf_caps")
    return tune(spark).sql(WATERFILL_FILL_SQL)


def _waterfill_oracle() -> str:
    return f"""
WITH wf_caps AS (
  SELECT source,
         CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                  t -> t != ''))) AS BIGINT) AS cap
  FROM documents GROUP BY 1),
tot AS (
  SELECT CAST(sum(cap) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n,
         CAST(CAST({WATERFILL_BUDGET_PPM} AS HUGEINT) * sum(cap)
              // 1000000 AS BIGINT) AS budget
  FROM wf_caps),
s AS (
  SELECT source, cap,
         row_number() OVER (ORDER BY cap ASC, source ASC) AS rk,
         sum(cap) OVER (ORDER BY cap ASC, source ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM wf_caps),
cand AS (
  SELECT k.k, (t.budget - coalesce(p.cum, 0)) // (t.n - k.k) AS level
  FROM (SELECT rk AS k FROM s UNION ALL SELECT 0) k
  CROSS JOIN tot t
  LEFT JOIN s p ON p.rk = k.k
  WHERE k.k < t.n),
valid AS (
  SELECT c.k, c.level
  FROM cand c
  LEFT JOIN s lo ON lo.rk = c.k
  LEFT JOIN s hi ON hi.rk = c.k + 1
  WHERE (lo.cap IS NULL OR lo.cap <= c.level)
    AND (hi.cap IS NULL OR c.level < hi.cap)
  ORDER BY c.k ASC
  LIMIT 1),
leveled AS (
  SELECT s.source, s.cap, t.budget, t.total,
         CASE WHEN t.budget >= t.total THEN s.cap
              WHEN s.rk <= v.k THEN s.cap
              ELSE v.level END AS base_alloc,
         CASE WHEN t.budget < t.total AND s.rk > v.k THEN 1 ELSE 0 END AS uncapped
  FROM s CROSS JOIN tot t LEFT JOIN valid v ON true),
rem AS (
  SELECT *,
         budget - sum(base_alloc) OVER () AS leftover,
         row_number() OVER (ORDER BY uncapped DESC, cap DESC, source ASC) AS bonus_rk
  FROM leveled)
SELECT source, cap,
       CAST(base_alloc + CASE WHEN uncapped = 1 AND bonus_rk <= leftover
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM rem
"""




#: greedy max-cover selection depth
MAXCOV_K = 8


def greedy_max_cover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage data selection (the submodular
    (1−1/e)-approximation): pick MAXCOV_K documents that together
    cover the most distinct vocabulary — the lexical-diversity
    counterpart to `kcenter_coreset` (metric diversity over
    embeddings) and the selection step instruction-tuning pipelines
    run to maximize skill/topic coverage under a document budget.

    Each round: per-doc NEW-token gain (anti-join against the covered
    set), argmax with min-doc_id tie-break (struct-max, no sort), the
    winner's tokens join the covered set.  The covered set is bounded
    by the vocabulary of the ≤ MAXCOV_K chosen docs (broadcast-sized
    at any corpus scale); per-round driver work is one 1-row argmax
    collect and one bounded count — the sanctioned K-round scalar-cut
    pattern (`graph.connected_components`' class).  Docs with zero
    uncovered tokens drop out of the gain frame in BOTH engines, so
    an exhausted vocabulary degrades identically (fewer rows).

    Output: rank, chosen doc, marginal gain, cumulative coverage and
    its ppm of the corpus vocabulary."""
    from ..io import checkpoint, swap_cache
    from .dedup import _norm_text, word_shingles

    d = fan_out(table(tune(spark), sf_dir, "documents"))
    # coverage unit = distinct 3-word shingles (the LSH lineage's
    # unit): the fixture's whitespace VOCABULARY is ~31 tokens (one
    # doc covers it all — selection would be vacuous), while the
    # shingle space is corpus-sized and measures passage coverage
    pairs = swap_cache(
        "corpusops.maxcov_pairs",
        d.filter(F.size(ws_tokens(_norm_text("text"))) >= 3).select(
            "doc_id",
            F.explode(word_shingles("text")).alias("tok"),
        ),
    )
    vocab_total = pairs.select("tok").distinct().count()
    covered: DataFrame | None = None
    rows: list[tuple[int, int, int, int]] = []
    for k in range(1, MAXCOV_K + 1):
        uncov = (
            pairs
            if covered is None
            else pairs.join(F.broadcast(covered), "tok", "left_anti")
        )
        pick = (
            uncov.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("gain"))
            .agg(
                F.max(
                    F.struct(
                        F.col("gain"), (-F.col("doc_id")).alias("nd")
                    )
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        if pick is None:
            break
        doc_id, gain = -pick["nd"], pick["gain"]
        new_cov = pairs.filter(F.col("doc_id") == doc_id).select("tok")
        covered = checkpoint(
            spark,
            "corpusops.maxcov_covered",
            lambda: new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct(),
        )
        # greedy gain IS the coverage increment: cum = running sum,
        # no per-round count action needed
        prev = rows[-1][3] if rows else 0
        rows.append((k, int(doc_id), int(gain), prev + int(gain)))
    out = spark.createDataFrame(
        rows, "rank int, doc_id long, gain long, cum_tokens long"
    )
    return out.select(
        "rank",
        "doc_id",
        "gain",
        "cum_tokens",
        F.expr(f"1000000 * cum_tokens DIV {vocab_total}")
        .cast("long")
        .alias("coverage_ppm"),
    )


def _maxcov_oracle() -> str:
    """MAXCOV_K generated greedy rounds: gain → struct-argmax pick →
    covered-set union, replaying the loop exactly (including the
    empty-round degradation)."""
    parts = [
        r"""
norm AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), '\s+'),
             t -> t != '') AS toks
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(0, greatest(len(toks) - 3, 0) + 1),
             i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]
                  || ' ' || toks[CAST(i AS INT) + 3])) AS shingles
  FROM norm
  WHERE len(toks) >= 3),
pairs AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(shingles) AS tok FROM sh)),
vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM pairs)"""
    ]
    for k in range(1, MAXCOV_K + 1):
        src = (
            "pairs"
            if k == 1
            else f"(SELECT * FROM pairs WHERE tok NOT IN (SELECT tok FROM c{k - 1}))"
        )
        cov_prev = "" if k == 1 else f"SELECT tok FROM c{k - 1} UNION "
        parts.append(f"""
g{k} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS gain
         FROM {src} GROUP BY 1),
p{k} AS (SELECT CAST(-(max({{'g': gain, 'nd': -doc_id}})).nd AS BIGINT)
                  AS doc_id,
                CAST((max({{'g': gain, 'nd': -doc_id}})).g AS BIGINT) AS gain
         FROM g{k} HAVING count(*) > 0),
c{k} AS MATERIALIZED (
  {cov_prev}SELECT pr.tok FROM pairs pr JOIN p{k} USING (doc_id))""")
    gain_sum = lambda k: " + ".join(
        f"coalesce((SELECT gain FROM p{j}), 0)" for j in range(1, k + 1)
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT {k} AS rank, doc_id, gain,"
        f" CAST({gain_sum(k)} AS BIGINT) AS cum_tokens"
        f" FROM p{k}"
        for k in range(1, MAXCOV_K + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f"""
SELECT CAST(rank AS INT) AS rank, doc_id, gain, cum_tokens,
       CAST(1000000 * cum_tokens // (SELECT v FROM vocab) AS BIGINT)
         AS coverage_ppm
FROM ({selects})
"""
    )


def vocab_divergence_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source vocabulary drift vs the corpus — exact total-
    variation distance between each source's token distribution and
    the pooled distribution, the screen that catches a source whose
    LANGUAGE changed (scraper drift, encoding break, template
    takeover) before it poisons the training mix.  TV is the one
    classical divergence that stays a RATIONAL of integer counts
    (KL needs logs): TV(p, q) = ½ Σ_t |p_t − q_t| =
    Σ_t |n_t·M − m_t·N_s| / (2·N_s·M) — one DECIMAL(38)/HUGEINT
    floor-division per source, no per-term flooring at all.  The
    most-shifted token is named per source (max |n·M − m·N_s|, ties
    to the lexically smallest — the `source_ablation_report`
    argmin idiom).

    Scale shape: ONE (source, token) corpus aggregate feeds
    everything; the divergence is a per-source sum over the
    vocabulary grid (grid ≪ corpus), the argmax a second bounded
    aggregate over the same grid."""
    from ..io import swap_cache

    d = fan_out(table(tune(spark), sf_dir, "documents"))
    grid = swap_cache(
        "corpusops.vocab_grid",
        d.select(
            "source",
            F.explode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias(
                "tok"
            ),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
    )
    by_src = grid.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("vocab_s"),
    )
    by_tok = grid.groupBy("tok").agg(
        F.sum("n").cast("long").alias("m")
    )
    total = grid.agg(F.sum("n").cast("long").alias("mm")).collect()[0][
        "mm"
    ]
    # the full (source × vocab) cross frame: a token absent from a
    # source still contributes |0·M − m·N_s| to that source's TV
    srcs = grid.select("source").distinct()
    cross = (
        srcs.crossJoin(by_tok)
        .join(grid, ["source", "tok"], "left")
        .na.fill({"n": 0})
        .join(F.broadcast(by_src), "source")
    )
    diff = (
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.lit(total)
            - F.col("m").cast("decimal(38,0)") * F.col("n_s")
        )
    ).alias("adiff")
    per_tok = cross.select(
        "source", "tok", "n_s", "vocab_s", diff
    )
    tv = per_tok.groupBy("source").agg(
        F.max("n_s").alias("_ns"),
        F.max("vocab_s").alias("_vs"),
        F.sum("adiff").alias("dsum"),
        F.max("adiff").alias("dmax"),
    )
    top = (
        per_tok.join(
            tv.select("source", F.col("dmax").alias("dm")), "source"
        )
        .filter(F.col("adiff") == F.col("dm"))
        .groupBy("source")
        .agg(F.min("tok").alias("top_shift_token"))
    )
    return (
        tv.join(F.broadcast(top), "source")
        .select(
            "source",
            F.col("_ns").cast("long").alias("n_tokens"),
            F.col("_vs").cast("long").alias("vocab_size"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * dsum"
                f" DIV (CAST(2 AS DECIMAL(38,0)) * _ns * {total})"
                " AS BIGINT)"
            ).alias("tv_ppm"),
            "top_shift_token",
        )
        .orderBy("source")
    )


VOCAB_DIVERGENCE_ORACLE = r"""
WITH grid AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT source,
               unnest(list_filter(regexp_split_to_array(
                   trim(lower(text)), '\s+'), t -> t != '')) AS tok
        FROM documents)
  GROUP BY 1, 2),
by_src AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS n_s,
         CAST(count(*) AS BIGINT) AS vocab_s
  FROM grid GROUP BY 1),
by_tok AS (SELECT tok, CAST(sum(n) AS BIGINT) AS m FROM grid GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS mm FROM grid),
crossg AS (
  SELECT s.source, t.tok, coalesce(g.n, 0) AS n, t.m, bs.n_s, bs.vocab_s
  FROM (SELECT DISTINCT source FROM grid) s
  CROSS JOIN by_tok t
  LEFT JOIN grid g ON g.source = s.source AND g.tok = t.tok
  JOIN by_src bs ON bs.source = s.source),
diffs AS (
  SELECT source, tok, n_s, vocab_s,
         abs(CAST(n AS HUGEINT) * (SELECT mm FROM tot)
             - CAST(m AS HUGEINT) * n_s) AS adiff
  FROM crossg),
tv AS (
  SELECT source, max(n_s) AS n_s, max(vocab_s) AS vocab_s,
         sum(adiff) AS dsum, max(adiff) AS dmax
  FROM diffs GROUP BY 1),
top AS (
  SELECT d.source, min(d.tok) AS top_shift_token
  FROM diffs d JOIN tv ON d.source = tv.source AND d.adiff = tv.dmax
  GROUP BY 1)
SELECT tv.source, CAST(tv.n_s AS BIGINT) AS n_tokens,
       CAST(tv.vocab_s AS BIGINT) AS vocab_size,
       CAST(CAST(1000000 AS HUGEINT) * tv.dsum
            // (CAST(2 AS HUGEINT) * tv.n_s * (SELECT mm FROM tot))
            AS BIGINT) AS tv_ppm,
       top.top_shift_token
FROM tv JOIN top ON tv.source = top.source
ORDER BY tv.source
"""


def shapley_vocab_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley values of the vocabulary-coverage game — data
    valuation with a closed form: with coalition value v(S) =
    |∪_{s∈S} vocab(s)| (distinct tokens covered), a token held by
    exactly the source set T contributes 1/|T| to each holder's
    Shapley value (by symmetry over orderings: a holder is credited
    iff it precedes the rest of T), so

        φ_src = Σ_{t ∈ vocab(src)} 1 / df(t)

    — no 2^k coalition enumeration, just the (source, token) grid
    and each token's source-frequency.  Emitted as the sum of
    floor(1e6/df) integer credits (both engines floor each term
    identically; Σφ then reconciles to 1e6·|vocab| minus the
    documented floor dust).  ``n_unique`` (df = 1 tokens — the
    tokens the corpus LOSES if the source goes) rides along, making
    this the principled companion to `source_ablation_report`'s
    mass-based view.

    Scale shape: one (source, token) aggregate + one token-df
    aggregate + one grid join — all linear in distinct (source,
    token) pairs, nothing pairwise."""
    from ..io import swap_cache

    d = fan_out(table(tune(spark), sf_dir, "documents"))
    grid = swap_cache(
        "corpusops.vocab_grid",
        d.select(
            "source",
            F.explode(ws_tokens(F.lower(F.trim(F.col("text"))))).alias(
                "tok"
            ),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
    )
    df_tok = grid.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return (
        grid.join(df_tok, "tok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum((F.col("df") == 1).cast("long"))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) DIV df"))
            .cast("long")
            .alias("shapley_e6"),
        )
        .orderBy("source")
    )


SHAPLEY_VOCAB_ORACLE = r"""
WITH grid AS (
  SELECT source, tok
  FROM (SELECT source,
               unnest(list_filter(regexp_split_to_array(
                   trim(lower(text)), '\s+'), t -> t != '')) AS tok
        FROM documents)
  GROUP BY 1, 2),
df_tok AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM grid GROUP BY 1)
SELECT g.source,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(sum(CAST(1000000 AS BIGINT) // d.df) AS BIGINT) AS shapley_e6
FROM grid g JOIN df_tok d ON g.tok = d.tok
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "padding_waste_report": padding_waste_report,
    "quantile_normalization": quantile_normalization,
    "corpus_split": corpus_split,
    "stratified_sample": stratified_sample,
    "sequence_pack": sequence_pack,
    "df_prune": df_prune,
    "temperature_resample": temperature_resample,
    "mixture_allocation": mixture_allocation,
    "mixture_temperature_weights": mixture_temperature_weights,
    "source_ablation_report": source_ablation_report,
    "neyman_allocation": neyman_allocation,
    "hierarchical_mixture": hierarchical_mixture,
    "per_group_sample": per_group_sample,
    "greedy_max_cover_selection": greedy_max_cover_selection,
    "dsir_importance_stats": dsir_importance_stats,
    "tokenizer_fertility": tokenizer_fertility,
    "weighted_priority_sample": weighted_priority_sample,
    "temperature_sweep": temperature_sweep,
    "capped_waterfill_allocation": capped_waterfill_allocation,
    "vocab_divergence_report": vocab_divergence_report,
    "shapley_vocab_coverage": shapley_vocab_coverage,
}

WATERFILL_ORACLE = _waterfill_oracle()

ORACLES = {
    "greedy_max_cover_selection": _maxcov_oracle(),
    "padding_waste_report": PADDING_WASTE_ORACLE,
    "quantile_normalization": QNORM_ORACLE,
    "corpus_split": CORPUS_SPLIT_ORACLE,
    "stratified_sample": STRATIFIED_SAMPLE_ORACLE,
    "sequence_pack": SEQUENCE_PACK_ORACLE,
    "df_prune": DF_PRUNE_ORACLE,
    "temperature_resample": TEMPERATURE_ORACLE,
    "mixture_allocation": MIXTURE_ORACLE,
    "mixture_temperature_weights": TEMP_MIX_ORACLE,
    "source_ablation_report": SOURCE_ABLATION_ORACLE,
    "neyman_allocation": NEYMAN_ORACLE,
    "hierarchical_mixture": HIERARCHICAL_MIXTURE_ORACLE,
    "per_group_sample": PER_GROUP_SAMPLE_ORACLE,
    "dsir_importance_stats": DSIR_ORACLE,
    "tokenizer_fertility": TOKENIZER_FERTILITY_ORACLE,
    "weighted_priority_sample": WEIGHTED_SAMPLE_ORACLE,
    "temperature_sweep": TEMPERATURE_SWEEP_ORACLE,
    "capped_waterfill_allocation": WATERFILL_ORACLE,
    "vocab_divergence_report": VOCAB_DIVERGENCE_ORACLE,
    "shapley_vocab_coverage": SHAPLEY_VOCAB_ORACLE,
}
