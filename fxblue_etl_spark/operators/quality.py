"""Repetition-quality filtering and train/eval decontamination.

Two pretraining-corpus gates the reference has no analogue for (its
scope stops at trade-row ETL, `CSV PARSER/gcp_csv.py`) but that any
100 TB text pipeline runs between ingest and sharding:

- ``gopher_repetition``: per-document repetition metrics in the style
  of the Gopher/MassiveText quality rules — top-token dominance and
  duplicate-bigram fraction — plus the keep/drop verdict. Top-token
  counts use the scale-linear explode → two-level groupBy shape
  (partial aggs map-side; never O(len²) per doc the way a
  nested-loop HOF would be on long documents). Bigram dedup stats are
  row-local array expressions fused into the same scan.
- ``contamination_check``: token-3-gram overlap between the training
  split and a held-out eval split (the decontamination pass every
  benchmark-respecting pipeline runs). Both sides explode *distinct*
  grams per doc, the eval gram set is broadcast (real benchmark sets
  are tiny next to the corpus), and the contaminated-doc set falls
  out of one equi-join — O(corpus grams), never pairwise over docs.

All ratios are emitted as integer-division ppm (``1e6*k DIV n``) —
exact in both engines, immune to the round-half divergence documented
in the README rounding rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fan_out, table
from .textops import ws_tokens

#: Gopher-style keep thresholds (ppm)
TOP_TOK_MAX_PPM = 120_000
DUP_BIGRAM_MAX_PPM = 500_000

#: eval split: ~1% of docs by stable key
EVAL_MOD = 97

NGRAM_N = 3


def _tok_ngrams(toks: Column, n: int) -> Column:
    """Token n-grams as strings, [] for docs shorter than ``n`` —
    row-local (sequence + element_at), no shuffle."""
    joined = lambda i: F.concat_ws(
        " ", *[F.element_at(toks, i + k) for k in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), joined),
    ).otherwise(F.array().cast("array<string>"))


def gopher_repetition(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Per-doc repetition metrics + keep verdict.

    Deliberately NOT fed from the composite's shared token-pair
    stream (round-8 interleaved A/B at sf0.1): the per-doc bigram
    distinct count here is row-local ``array_distinct`` work, and
    restating it as a countDistinct shuffle over the exploded stream
    cost ~20% on the whole composite.  Bounded per-row statistics
    belong in array expressions, not exploded aggregates."""
    d = (
        docs if docs is not None
        else fan_out(table(spark, sf_dir, "documents"))
    ).select("doc_id", "lang", ws_tokens("text").alias("toks"))
    bigrams = _tok_ngrams(F.col("toks"), 2)
    row_local = d.select(
        "doc_id",
        "lang",
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"),
    )
    tok_stats = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"), F.sum("c").alias("n_toks"))
    )
    m = row_local.join(tok_stats, "doc_id")
    metrics = m.select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.expr("1000000 * top_cnt DIV n_toks").alias("top_tok_ppm"),
        F.when(
            F.col("n_bigrams") > 0,
            # cast before the multiply: F.size yields int32, and
            # 1e6 × a >2147-duplicate-bigram doc would silently wrap
            F.expr(
                "1000000 * CAST(n_bigrams - n_distinct_bigrams AS BIGINT)"
                " DIV n_bigrams"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dup_bigram_ppm"),
    )
    return metrics.withColumn(
        "keep",
        (F.col("top_tok_ppm") < TOP_TOK_MAX_PPM)
        & (F.col("dup_bigram_ppm") < DUP_BIGRAM_MAX_PPM),
    )


GOPHER_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
bg AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_bigrams,
         CASE WHEN len(toks) >= 2
              THEN len(list_distinct(list_transform(
                     range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])))
              ELSE 0 END AS n_distinct_bigrams
  FROM tk),
cnt AS (
  SELECT doc_id, t.tok, count(*) AS c
  FROM tk, unnest(toks) t(tok)
  GROUP BY 1, 2),
stats AS (
  SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_toks FROM cnt GROUP BY 1),
m AS (
  SELECT b.doc_id, b.lang,
         CAST(s.n_toks AS BIGINT) AS n_toks,
         -- DuckDB sum() types n_toks HUGEINT; without the cast the
         -- quotient column stays HUGEINT and hash-canonicalizes
         -- differently from Spark's BIGINT despite equal values
         CAST((1000000 * s.top_cnt) // s.n_toks AS BIGINT) AS top_tok_ppm,
         CAST(CASE WHEN b.n_bigrams > 0
              THEN (1000000 * (b.n_bigrams - b.n_distinct_bigrams)) // b.n_bigrams
              ELSE 0 END AS BIGINT) AS dup_bigram_ppm
  FROM bg b JOIN stats s USING (doc_id))
SELECT doc_id, lang, n_toks, top_tok_ppm, dup_bigram_ppm,
       (top_tok_ppm < {TOP_TOK_MAX_PPM} AND dup_bigram_ppm < {DUP_BIGRAM_MAX_PPM}) AS keep
FROM m
"""


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing any token 3-gram with the eval split,
    summarized per language with a floored-ppm contamination rate."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        F.array_distinct(_tok_ngrams(ws_tokens("text"), NGRAM_N)).alias("grams"),
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    train = d.filter(~is_eval)
    eval_grams = (
        d.filter(is_eval)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train_grams = train.select("doc_id", F.explode("grams").alias("gram"))
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train.select("doc_id", "lang")
        .join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
        .withColumn(
            "contamination_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_contaminated"
                " DIV n_train AS BIGINT)"
            ),
        )
    )


CONTAMINATION_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
grams AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= {NGRAM_N}
              THEN list_distinct(list_transform(
                     range(1, len(toks) - {NGRAM_N - 2}),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
              ELSE [] END AS gs
  FROM tk),
eval_grams AS (
  SELECT DISTINCT g.gram FROM grams, unnest(gs) g(gram)
  WHERE doc_id % {EVAL_MOD} = 0),
train AS (SELECT * FROM grams WHERE doc_id % {EVAL_MOD} != 0),
contaminated AS (
  SELECT DISTINCT t.doc_id
  FROM train t, unnest(t.gs) g(gram)
  JOIN eval_grams e ON g.gram = e.gram)
SELECT t.lang,
       count(*) AS n_train,
       CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
       CAST(CAST(1000000 AS HUGEINT) * count(c.doc_id) // count(*) AS BIGINT) AS contamination_ppm
FROM train t LEFT JOIN contaminated c ON t.doc_id = c.doc_id
GROUP BY 1
"""


#: span-level dedup: span length in tokens and the keep threshold
SPAN_K = 6
SPAN_DUP_MAX_PPM = 200_000

#: DuckDB span concatenation GENERATED from SPAN_K (round-7 advice):
#: a hardcoded 6-term ``toks[i] || ' ' || …`` in the oracles would
#: silently desynchronize from the Spark queries if SPAN_K changed.
#: (DuckDB lists are 1-based; the unnest range supplies i ≥ 1.)
_SPAN_CONCAT_SQL = " || ' ' || ".join(
    f"toks[i + {k}]" for k in range(SPAN_K)
)


def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span statistics — the detection half of
    span-level dedup (the "repeated ≥k-token substring" family that
    suffix-array pipelines run; a k-token sliding window is the
    Spark-joinable restatement). Per doc: how many of its distinct
    k-token spans occur in at least one OTHER document, as an exact
    ppm, plus the keep verdict.

    Plan: distinct spans per doc (row-local) → explode → one groupBy
    for global span document-frequency → equi-join back → per-doc
    count. O(corpus spans) with two hash shuffles, never pairwise
    over docs — the same scale shape as ``contamination_check``."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_distinct(_tok_ngrams(ws_tokens("text"), SPAN_K)).alias("spans"),
    )
    px = d.select("doc_id", F.explode("spans").alias("span"))
    shared = (
        px.groupBy("span")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 1)
        .select("span", F.lit(1).alias("hit"))
    )
    # explode_outer carries zero-span docs through the scoring pass,
    # so per-doc span counts ride the SAME explode as the dup probe —
    # a separate base branch was a third full tokenize pass
    px_outer = d.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.explode_outer("spans").alias("span"),
    )
    out = (
        px_outer.join(shared, "span", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_spans").alias("n_spans"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_dup_spans"),
        )
    )
    ppm = F.when(
        F.col("n_spans") > 0,
        F.expr("1000000 * n_dup_spans DIV n_spans"),
    ).otherwise(F.lit(0)).cast("long")
    return out.withColumn("dup_span_ppm", ppm).withColumn(
        "keep", F.col("dup_span_ppm") < SPAN_DUP_MAX_PPM
    )


SPAN_DEDUP_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {SPAN_K}
              THEN list_distinct(list_transform(
                     range(1, len(toks) - {SPAN_K - 2}),
                     i -> {_SPAN_CONCAT_SQL}))
              ELSE [] END AS spans
  FROM tk),
px AS (SELECT doc_id, s.span FROM g, unnest(spans) s(span)),
sdf AS (SELECT span FROM px GROUP BY span HAVING count(*) > 1),
hit AS (
  SELECT p.doc_id, count(*) AS n_dup_spans
  FROM px p JOIN sdf USING (span)
  GROUP BY 1)
SELECT g.doc_id,
       CAST(len(g.spans) AS INT) AS n_spans,
       CAST(coalesce(h.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(CASE WHEN len(g.spans) > 0
            THEN (1000000 * coalesce(h.n_dup_spans, 0)) // len(g.spans)
            ELSE 0 END AS BIGINT) AS dup_span_ppm,
       (CAST(CASE WHEN len(g.spans) > 0
             THEN (1000000 * coalesce(h.n_dup_spans, 0)) // len(g.spans)
             ELSE 0 END AS BIGINT) < {SPAN_DUP_MAX_PPM}) AS keep
FROM g LEFT JOIN hit h USING (doc_id)
"""


def span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup REWRITE ledger (Lee et al. 2021,
    arXiv:2107.06499 — remove repeated substrings, don't drop whole
    documents): a token position is removed iff it is covered by at
    least one occurrence of a cross-document repeated ``SPAN_K``-token
    span.  Complements :func:`span_dedup_stats` (the detection half —
    same spans, same cross-doc df > 1 predicate) with the per-doc
    removal accounting the transform itself needs: n_tokens,
    n_removed, n_kept, kept_ppm.

    DELIBERATE DEVIATION from the cited paper (round-7 advice): Lee
    et al. keep ONE occurrence of each repeated substring; this
    ledger removes EVERY covered position, including the canonical
    first occurrence — i.e. shared boilerplate is stripped from all
    documents, the common policy for template/chrome removal.  A
    keeper rule (retain the occurrence in the min doc_id) would be a
    one-line extra predicate on the covered-position join if paper
    fidelity is ever wanted.

    Plan: positioned spans (``posexplode`` — row-local) → one groupBy
    for cross-doc span df → equi-join back on the span → covered
    positions explode a constant-length ``sequence(i, i+K-1)`` →
    distinct (doc, pos) → per-doc count.  O(corpus spans · K) rows
    through content-keyed hash shuffles, never pairwise over docs —
    the Spark-joinable restatement of the suffix-array pass, same
    scale shape as the detection half.  Docs shorter than SPAN_K
    carry through with zero removals (left join).
    """
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    base = d.select("doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks")
    sp = base.filter(F.col("n_tokens") >= SPAN_K).select(
        "doc_id",
        F.posexplode(_tok_ngrams(F.col("toks"), SPAN_K)).alias("i", "span"),
    )
    shared = (
        sp.select("doc_id", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > 1)
        .select("span")
    )
    covered = (
        sp.join(shared, "span")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(SPAN_K - 1))
            ).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_removed"))
    )
    out = (
        base.select("doc_id", "n_tokens")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        (F.col("n_tokens") - F.col("n_removed")).cast("long").alias("n_kept"),
        F.when(
            F.col("n_tokens") > 0,
            F.expr("1000000 * (n_tokens - n_removed) DIV n_tokens"),
        )
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("kept_ppm"),
    )


SPAN_REWRITE_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
sp AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS i,
         {_SPAN_CONCAT_SQL} AS span
  FROM tk, unnest(range(1, CASE WHEN len(toks) >= {SPAN_K}
                                THEN len(toks) - {SPAN_K - 2} ELSE 1 END)) t(i)),
sdf AS (
  SELECT span FROM (SELECT DISTINCT doc_id, span FROM sp) px
  GROUP BY span HAVING count(*) > 1),
cov AS (
  SELECT doc_id, count(DISTINCT s.i + o.o) AS n_removed
  FROM sp s JOIN sdf USING (span), unnest(range(0, {SPAN_K})) o(o)
  GROUP BY 1)
SELECT tk.doc_id,
       CAST(len(tk.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(len(tk.toks) - coalesce(c.n_removed, 0) AS BIGINT) AS n_kept,
       CAST(CASE WHEN len(tk.toks) > 0
            THEN (1000000 * (len(tk.toks) - coalesce(c.n_removed, 0))) // len(tk.toks)
            ELSE 1000000 END AS BIGINT) AS kept_ppm
FROM tk LEFT JOIN cov c USING (doc_id)
"""


def domain_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level (per-source) quality gating: keep a source iff its
    mean document length is at least the corpus mean — the aggregate
    form of blocklist derivation every web-scale pipeline runs (C4
    dropped whole domains the same way; here the list is computed, not
    curated).

    The keep test is the cross-multiplied integer comparison
    ``sum_chars·n_total >= sum_total·n_docs`` — exactly the avg-vs-avg
    predicate with no division and no float surface (the README
    quotient rule). Done in decimal(38) so it cannot overflow at
    corpus scale. Plan: one groupBy(source) agg (map-side combined),
    one 1-row corpus agg broadcast back — the per-source table is
    bounded by domain cardinality, never corpus size."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = d.agg(
        F.count("*").alias("n_total"),
        F.sum("n_chars").cast("long").alias("sum_total"),
    )
    dec = "decimal(38,0)"
    kept = (
        F.col("sum_chars").cast(dec) * F.col("n_total").cast(dec)
        >= F.col("sum_total").cast(dec) * F.col("n_docs").cast(dec)
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "sum_chars",
        kept.alias("kept"),
    )


DOMAIN_GATE_ORACLE = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY 1),
tot AS (
  SELECT count(*) AS n_total, CAST(sum(n_chars) AS BIGINT) AS sum_total
  FROM documents)
SELECT source, n_docs, sum_chars,
       (CAST(sum_chars AS HUGEINT) * n_total
          >= CAST(sum_total AS HUGEINT) * n_docs) AS kept
FROM per_src, tot
"""



def quality_lm_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal calibration of the heuristic quality score against
    the LM fluency signal: for every discrete quality-score level,
    the keep rate and the average LM continuation ppm of the docs at
    that level.  If the heuristic is calibrated, avg fluency rises
    with score — the agreement curve a pipeline inspects before
    trusting one cheap signal as a proxy for an expensive one.

    Scale: both scorers fork from ONE persisted scan (the same
    ``docs=`` fork quality_feature_matrix uses — un-shared, the two
    scorers would read the corpus three times between them); the
    calibration adds one equi-join on doc_id and a groupBy over the
    score's ≤ 8 discrete levels."""
    from ..io import swap_cache
    from ..operators.textops import quality_score
    from ..operators.tfidf import lm_doc_perplexity

    base = swap_cache(
        "quality.calibration",
        fan_out(table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        ),
    )
    qs = quality_score(spark, sf_dir, docs=base).select(
        "doc_id", "quality_score", "keep"
    )
    lm = lm_doc_perplexity(spark, sf_dir, docs=base).select(
        "doc_id", "avg_cont_ppm"
    )
    j = qs.join(lm, "doc_id")  # inner: only LM-scorable docs calibrate
    return j.groupBy("quality_score").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_keep"),
        F.expr(
            "CAST(CAST(sum(avg_cont_ppm) AS DECIMAL(38,0))"
            " DIV count(*) AS BIGINT)"
        ).alias("mean_fluency_ppm"),
    )


def _calibration_oracle() -> str:
    from ..operators.textops import QUALITY_ORACLE
    from ..operators.tfidf import LM_PERPLEXITY_ORACLE

    return f"""
WITH qs AS ({QUALITY_ORACLE}),
lm AS ({LM_PERPLEXITY_ORACLE})
SELECT q.quality_score, count(*) AS n_docs,
       CAST(sum(q.keep) AS BIGINT) AS n_keep,
       CAST(CAST(sum(l.avg_cont_ppm) AS HUGEINT) // count(*) AS BIGINT)
         AS mean_fluency_ppm
FROM qs q JOIN lm l USING (doc_id)
GROUP BY 1
"""


QUALITY_LM_CALIBRATION_ORACLE = _calibration_oracle()


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vintage novelty scoring: how much of an incoming document's
    content is NEW relative to the standing corpus — the freshness
    signal a crawl-selection pipeline uses to prefer documents that
    add information rather than re-crawl boilerplate.  Standing
    corpus = ``doc_id % 5 != 0`` (the 80% already ingested), batch =
    the rest; per batch doc, the fraction of its distinct word
    trigrams absent from the standing corpus's trigram vocabulary,
    as exact ppm.

    Scale shape: one distinct-aggregate over the standing corpus's
    trigrams (map-side combined) and one equi-join on the trigram
    key — at 100 TB the join's standing side is Bloom-prefilterable
    (the `runtime_filters` pattern); nothing is all-pairs.

    Reference parity: beyond-reference quality surface; shares the
    shingle normalization with the dedup family
    (`operators/dedup.py`)."""
    d = fan_out(table(spark, sf_dir, "documents"))
    from .dedup import word_shingles

    tri = d.filter(F.size(ws_tokens(F.lower("text"))) >= 3).select(
        "doc_id", F.explode(word_shingles("text")).alias("tri")
    )
    old_tris = tri.filter(F.col("doc_id") % 5 != 0).select("tri").distinct()
    new_tris = tri.filter(F.col("doc_id") % 5 == 0)
    joined = new_tris.join(
        old_tris.withColumn("seen", F.lit(1)), "tri", "left_outer"
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_novel"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0))"
            " * sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END)"
            " DIV count(*) AS BIGINT)"
        ).alias("novel_ppm"),
    )


NGRAM_NOVELTY_ORACLE = r"""
WITH norm AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(
             trim(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), '\s+'),
             t -> t != '') AS toks
  FROM documents),
tri AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
             range(0, greatest(len(toks) - 3, 0) + 1),
             i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]
                  || ' ' || toks[CAST(i AS INT) + 3]))) AS tri
  FROM norm
  WHERE len(toks) >= 3),
old_tris AS (
  SELECT DISTINCT tri FROM tri WHERE doc_id % 5 != 0)
SELECT t.doc_id,
       count(*) AS n_trigrams,
       CAST(sum(CASE WHEN o.tri IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(CAST(1000000 AS HUGEINT)
            * sum(CASE WHEN o.tri IS NULL THEN 1 ELSE 0 END)
            // count(*) AS BIGINT) AS novel_ppm
FROM tri t LEFT JOIN old_tris o ON o.tri = t.tri
WHERE t.doc_id % 5 = 0
GROUP BY 1
"""



def quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality FEATURE MATRIX: the wide table a quality-
    classifier trainer (FineWeb-style) actually consumes — every
    certified per-doc signal joined on doc_id with a combined
    keep-all verdict:

    - surface shape (``text_stats``): token count, punctuation ratio
    - stopword heuristic (``quality_score``): score + keep
    - Gopher repetition (``gopher_repetition``): top-token /
      duplicate-bigram ppm + keep
    - corpus rarity (``rare_token_quality``): rare-token ppm
    - LM fluency (``lm_doc_perplexity``): mean continuation ppm + band

    Each constituent is already oracle-certified on its own; this
    composite certifies the JOIN SPINE — left joins on the full
    text_stats spine so a doc too short for the LM pass (<2 tokens)
    still appears with NULL fluency rather than vanishing.

    Scale shape: five doc_id equi-joins between identically
    partitioned per-doc aggregates — AQE coalesces them onto one
    exchange footprint.  The five signals fork from ONE persisted
    scan (``io.swap_cache`` on the (doc_id, lang, text) projection),
    so the corpus is read once per invocation — the documented 100 TB
    path, now the actual plan; each signal stays independently
    certified through its default self-reading entry point.
    Measured trade at fixture scale: ~5% slower than five parquet
    re-reads (the fixture lives in the OS page cache, so re-scans are
    nearly free locally); at 100 TB the five extra I/O passes are the
    dominant cost and the persisted fork wins outright."""
    from ..io import swap_cache
    from .textops import quality_score, text_stats, ws_tokens
    from .tfidf import lm_doc_perplexity, rare_token_quality, token_pair_stream

    base = swap_cache(
        "quality.feature_matrix",
        fan_out(table(spark, sf_dir, "documents")).select(
            "doc_id", "lang", "text"
        ),
    )
    # the two corpus-statistics signals (rarity + LM fluency) each
    # walk the exploded token corpus TWICE (count-table build +
    # scoring side — Spark shares no exchange between a join's
    # sides): four corpus tokenize+explode passes.  One persisted
    # (doc_id, tok, nxt) stream (token_pair_stream) replaces them
    # with one explode + four scans of the compact exploded frame —
    # at 100 TB the explode output is larger than the input text but
    # each re-scan of it is a column-pruned read, not a re-tokenize
    # (round-7 verdict item 5).
    stream = swap_cache(
        "quality.feature_matrix.stream",
        token_pair_stream(
            base.select("doc_id", ws_tokens("text").alias("toks"))
        ),
    )
    ts = text_stats(spark, sf_dir, docs=base).select(
        "doc_id", "n_ws_tokens", "punct_ratio"
    )
    qs = quality_score(spark, sf_dir, docs=base).select(
        "doc_id", "quality_score", F.col("keep").alias("stopword_keep")
    )
    # gopher deliberately NOT stream-fed (measured, round 8): its
    # per-doc bigram distinct count is row-local array work in the
    # standalone lineage; replacing that with a countDistinct shuffle
    # over the exploded stream cost ~20% on the whole composite
    # (interleaved A/B at sf0.1: old median 4.17s vs stream-fed
    # 4.98s).  Bounded per-row stats belong in array expressions,
    # not exploded aggregates.
    gr = gopher_repetition(spark, sf_dir, docs=base).select(
        "doc_id",
        "top_tok_ppm",
        "dup_bigram_ppm",
        F.col("keep").cast("int").alias("gopher_keep"),
    )
    rt = rare_token_quality(spark, sf_dir, px=stream).select(
        "doc_id", "rare_ppm"
    )
    lm = lm_doc_perplexity(
        spark,
        sf_dir,
        pairs=stream.filter(F.col("nxt").isNotNull()).select(
            "doc_id", F.col("tok").alias("head"), "nxt"
        ),
    ).select("doc_id", "avg_cont_ppm", "fluency_band")
    return (
        ts.join(qs, "doc_id", "left")
        .join(gr, "doc_id", "left")
        .join(rt, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .withColumn(
            "keep_all",
            (
                (F.coalesce(F.col("stopword_keep"), F.lit(0)) == 1)
                & (F.coalesce(F.col("gopher_keep"), F.lit(0)) == 1)
            ).cast("int"),
        )
    )


def _feature_matrix_oracle() -> str:
    from .textops import QUALITY_ORACLE, TEXT_STATS_ORACLE
    from .tfidf import LM_PERPLEXITY_ORACLE, RARE_TOKEN_ORACLE

    return f"""
WITH ts AS ({TEXT_STATS_ORACLE}),
qs AS ({QUALITY_ORACLE}),
gr AS ({GOPHER_ORACLE}),
rt AS ({RARE_TOKEN_ORACLE}),
lm AS ({LM_PERPLEXITY_ORACLE})
SELECT ts.doc_id, ts.n_ws_tokens, ts.punct_ratio,
       qs.quality_score, qs.keep AS stopword_keep,
       gr.top_tok_ppm, gr.dup_bigram_ppm,
       CAST(gr.keep AS INT) AS gopher_keep,
       rt.rare_ppm, lm.avg_cont_ppm, lm.fluency_band,
       CAST(coalesce(qs.keep, 0) = 1 AND coalesce(CAST(gr.keep AS INT), 0) = 1
            AS INT) AS keep_all
FROM ts
LEFT JOIN qs USING (doc_id)
LEFT JOIN gr USING (doc_id)
LEFT JOIN rt USING (doc_id)
LEFT JOIN lm USING (doc_id)
"""


FEATURE_MATRIX_ORACLE = _feature_matrix_oracle()


QUERIES = {
    "gopher_repetition": gopher_repetition,
    "contamination_check": contamination_check,
    "domain_quality_gate": domain_quality_gate,
    "span_dedup_stats": span_dedup_stats,
    "span_dedup_rewrite": span_dedup_rewrite,
    "quality_lm_calibration": quality_lm_calibration,
    "quality_feature_matrix": quality_feature_matrix,
    "ngram_novelty_scores": ngram_novelty_scores,
}

ORACLES = {
    "gopher_repetition": GOPHER_ORACLE,
    "contamination_check": CONTAMINATION_ORACLE,
    "domain_quality_gate": DOMAIN_GATE_ORACLE,
    "span_dedup_stats": SPAN_DEDUP_ORACLE,
    "span_dedup_rewrite": SPAN_REWRITE_ORACLE,
    "quality_lm_calibration": QUALITY_LM_CALIBRATION_ORACLE,
    "quality_feature_matrix": FEATURE_MATRIX_ORACLE,
    "ngram_novelty_scores": NGRAM_NOVELTY_ORACLE,
}
