"""Term-relevance operators: per-document keyword salience and
corpus-frequency quality scoring (SURVEY §2.13 text-analysis surface).

Beyond the reference's scope (its text handling stops at passthrough
columns, `CSV PARSER/gcp_csv.py:43-45`); these are the TF-IDF-family
passes a training-data pipeline runs for topic tagging and
quality-gating:

- ``term_salience_topk``: per-document top-k salient terms ranked by
  the integer tf/df-ratio ppm (``1e6*tf DIV df``) — the exact-integer
  restatement of TF-IDF ranking (idf is monotone-decreasing in df, so
  within a document the tf/df ratio prefers the same
  frequent-here-rare-elsewhere terms, with no transcendental ``ln``
  whose ulps could differ cross-engine).
- ``rare_token_quality``: per-document rarity profile against the
  corpus unigram distribution — the integer-exact proxy for a unigram
  LM quality score (documents dominated by below-mean-frequency
  tokens are OOV-ish/noisy; documents of only stop-frequency tokens
  are boilerplate-ish).

Scale shape (100 TB): both operators explode to (doc, token) and
aggregate — scale-linear in corpus tokens, partial aggs map-side.
The vocabulary-keyed joins are equi-joins on ``tok``; the vocabulary
table is orders of magnitude smaller than the corpus (Heaps' law) but
not necessarily broadcastable, so they stay shuffle equi-joins and
AQE may promote to broadcast when stats allow. No all-pairs step
anywhere; every emitted ratio is an integer quotient (README
rounding rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import fan_out, table
from .dedup import minhash_lsh_pairs
from .textops import ws_tokens

#: salient terms kept per document
TOPK_TERMS = 3

_TOKS_SQL = r"""
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
"""


def term_salience_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per doc by integer tf/df salience.

    Plan: explode → (doc, tok) counts (one shuffle, map-side
    combined) → document frequency as a COUNT WINDOW over the same
    table partitioned by term (a separate df aggregate joined back
    re-executes the corpus explode — Spark shares no lineage between
    a join's sides; the window is the same hash partitioning the
    equi-join would pay, minus the second pass) → per-doc window
    top-k. The top-k window partitions by doc_id — millions of tiny
    partitions, never one big one.
    """
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf already has one row per (doc, term): df = rows per term
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr("1000000 * tf DIV df").alias("salience_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("salience_ppm"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK_TERMS)
        .select("doc_id", "term", "tf", "df", "salience_ppm", "rank")
    )


TERM_SALIENCE_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
tf AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM tk, unnest(toks) t(term)
  GROUP BY 1, 2),
dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT f.doc_id, f.term, f.tf, d.df,
         CAST((1000000 * f.tf) // d.df AS BIGINT) AS salience_ppm
  FROM tf f JOIN dfreq d USING (term)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY salience_ppm DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, tf, df, salience_ppm, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOPK_TERMS}
"""



def token_pair_stream(d: DataFrame) -> DataFrame:
    """ONE corpus explode emitting BOTH key streams the two
    corpus-statistics quality signals need: per token position,
    ``(doc_id, tok, nxt)`` where ``nxt`` is the following token or
    NULL at document end.  ``rare_token_quality`` consumes the
    ``(doc_id, tok)`` projection; ``lm_doc_perplexity`` consumes the
    ``nxt IS NOT NULL`` rows as its bigram stream — so a composite
    that persists this frame pays the tokenize+explode once instead
    of once per signal per consumer (round-7 verdict item 5).
    ``d`` needs ``doc_id`` and ``toks``; single-token docs emit their
    one token with NULL ``nxt`` (they have no bigrams), empty docs
    emit nothing — matching each signal's standalone lineage
    exactly."""
    tok_nxt = F.transform(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: F.struct(
            F.element_at("toks", i).alias("tok"),
            # element_at(toks, size+1) errors under ANSI; the
            # conditional keeps the last position's nxt NULL
            F.when(
                i < F.size("toks"), F.element_at("toks", i + 1)
            ).alias("nxt"),
        ),
    )
    return (
        d.filter(F.size("toks") >= 1)
        .select("doc_id", F.explode(tok_nxt).alias("p"))
        .select("doc_id", "p.tok", "p.nxt")
    )


def rare_token_quality(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    px: DataFrame | None = None,
) -> DataFrame:
    """Per-doc rarity profile vs the corpus unigram distribution.

    A token is "rare" iff its total corpus count is below the mean
    token count — the comparison is cross-multiplied to stay in
    integers (``cnt * n_vocab < n_total``), so the threshold is exact
    in both engines. Emits per doc: token count, rare-token count,
    rare ppm, and the exact corpus-frequency mass of its tokens
    (``sum over tokens of corpus_count(tok)`` — the integer sufficient
    statistic a unigram-LM score is the log of).

    ``docs`` lets a composite (quality_feature_matrix) feed all its
    signals from ONE persisted scan instead of re-reading the table;
    ``px`` goes further and supplies the exploded ``(doc_id, tok)``
    stream itself (``token_pair_stream``'s projection), so the
    composite's persisted explode replaces this function's own.
    """
    from ..io import swap_cache

    if px is None:
        d = (
            docs
            if docs is not None
            else fan_out(table(spark, sf_dir, "documents"))
        ).select("doc_id", ws_tokens("text").alias("toks"))
        px = d.select("doc_id", F.explode("toks").alias("tok"))
    else:
        px = px.select("doc_id", "tok")
    # vocab-bounded count table with two consumers (the totals and
    # the scoring join) — persist so the corpus explode behind it
    # runs once; the profile + score passes are then the minimum two
    cnt = swap_cache(
        "tfidf.rare", px.groupBy("tok").agg(F.count("*").alias("cnt"))
    )
    tot = cnt.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_vocab"),
    )
    marked = px.join(cnt, "tok").crossJoin(F.broadcast(tot))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum(
                (F.col("cnt") * F.col("n_vocab") < F.col("n_total")).cast("long")
            ).alias("n_rare"),
            F.sum("cnt").cast("long").alias("corpus_freq_sum"),
        )
        .withColumn("rare_ppm", F.expr("1000000 * n_rare DIV n_toks"))
        .select("doc_id", "n_toks", "n_rare", "rare_ppm", "corpus_freq_sum")
    )


RARE_TOKEN_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
px AS (SELECT doc_id, t.tok FROM tk, unnest(toks) t(tok)),
cnt AS (SELECT tok, count(*) AS cnt FROM px GROUP BY 1),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_vocab FROM cnt)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(CASE WHEN c.cnt * t.n_vocab < t.n_total THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST((1000000 * sum(CASE WHEN c.cnt * t.n_vocab < t.n_total THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS rare_ppm,
       CAST(sum(c.cnt) AS BIGINT) AS corpus_freq_sum
FROM px p JOIN cnt c USING (tok), tot t
GROUP BY 1
"""


#: continuations kept per head token
BIGRAM_TOPK = 3
#: heads rarer than this outgoing mass are pruned
BIGRAM_MIN_HEAD = 5
#: level-1 tournament ways for the per-head top-k
BIGRAM_BUCKETS = 8


def token_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM table: for each head token with ≥ BIGRAM_MIN_HEAD
    outgoing bigrams, the top-k continuations with exact counts and
    integer continuation-probability ppm — the n-gram-LM sufficient
    statistics a quality/decontamination pass consumes.

    Scale shape: adjacent pairs are generated row-locally (no
    self-join); the per-head top-k runs as the same two-level
    tournament as the posting heads (level 1 per (head, hash-bucket
    of continuation)), so a stop-word head never serializes one
    window task."""
    from .corpusops import _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    pair_col = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("head"),
            F.element_at("toks", i + 1).alias("nxt"),
        ),
    )
    pairs = (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(pair_col).alias("p"))
        .groupBy(F.col("p.head").alias("head"), F.col("p.nxt").alias("nxt"))
        .agg(F.count("*").alias("n"))
    )
    # per-head outgoing mass as one more window over the SAME
    # vocab-bounded pairs table (a heads aggregate joined back
    # re-executes the corpus pair explode — the lm_doc_perplexity
    # finding); computed before any rn filter so the mass is exact
    w1 = Window.partitionBy("head", "tb").orderBy(F.desc("n"), F.asc("nxt"))
    w2 = Window.partitionBy("head").orderBy(F.desc("n"), F.asc("nxt"))
    topk = (
        pairs.withColumn(
            "n_head",
            F.sum("n").over(Window.partitionBy("head")).cast("long"),
        )
        .withColumn("tb", _hash_bucket(F.col("nxt"), "bigram|", BIGRAM_BUCKETS))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= BIGRAM_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= BIGRAM_TOPK)
    )
    return (
        topk
        .filter(F.col("n_head") >= BIGRAM_MIN_HEAD)
        .select(
            "head",
            "nxt",
            "n",
            "rank",
            "n_head",
            # DECIMAL(38,0) premultiply: 1e6·n wraps int64 once a
            # stop-word bigram passes 9.2e12 occurrences — real at
            # full corpus scale
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_head AS BIGINT)"
            ).alias("cont_ppm"),
        )
    )


def lm_doc_perplexity(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document n-gram-LM fluency score (the CCNet-style quality
    signal): every adjacent token pair in a document is scored by its
    corpus-wide continuation probability (integer ppm, the same
    statistic `token_bigram_lm` tabulates, here unpruned), and the
    document aggregates to exact integer sufficient statistics —
    pair count, summed continuation ppm, their quotient, and a
    coarse fluency band.  Low avg ppm ≈ high perplexity ≈ disfluent/
    boilerplate-ish text; the float `exp(-mean log p)` is one
    driver-side step away and deliberately NOT emitted (floats don't
    hash cross-engine).

    Scale shape: pair generation is row-local (no self-join); the
    bigram probability table is a map-side-combined count aggregate;
    scoring is one shuffle equi-join on (head, nxt) — the bigram
    table at full scale is large but uniformly hash-partitioned, and
    AQE handles stop-word-pair skew.  The per-head mass comes from a
    window over the COUNTS table (partition = head, bounded by that
    head's continuation vocabulary), not a groupBy+join back — the
    join formulation re-executes the corpus tokenize lineage a third
    time (Spark shares no exchange between a join's sides), and a
    full corpus pass dwarfs a vocabulary-bounded window sort.  No
    broadcast of corpus-sized state.

    Reference parity: the reference has no LM scoring; this extends
    its quality gates (`RSS PARSER/gcp_rss.py:94-95` field filters)
    with the corpus-statistics pass a training pipeline needs.

    ``pairs`` supplies a pre-built ``(doc_id, head, nxt)`` bigram
    stream (``token_pair_stream``'s non-NULL-``nxt`` rows), letting a
    composite share one persisted corpus explode across signals."""
    if pairs is None:
        d = (
            docs if docs is not None
            else fan_out(table(spark, sf_dir, "documents"))
        ).select("doc_id", ws_tokens("text").alias("toks"))
        pair_col = F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("head"),
                F.element_at("toks", i + 1).alias("nxt"),
            ),
        )
        doc_pairs = (
            d.filter(F.size("toks") >= 2)
            .select("doc_id", F.explode(pair_col).alias("p"))
            .select("doc_id", "p.head", "p.nxt")
        )
    else:
        doc_pairs = pairs.select("doc_id", "head", "nxt")
    counts = doc_pairs.groupBy("head", "nxt").agg(F.count("*").alias("n"))
    probs = counts.withColumn(
        "n_head", F.sum("n").over(Window.partitionBy("head")).cast("long")
    ).select(
        "head",
        "nxt",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_head AS BIGINT)"
        ).alias("cont_ppm"),
    )
    return (
        doc_pairs.join(probs, ["head", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("cont_ppm").cast("long").alias("cont_ppm_sum"),
        )
        .select(
            "doc_id",
            "n_pairs",
            "cont_ppm_sum",
            F.expr(
                "CAST(CAST(cont_ppm_sum AS DECIMAL(38,0)) DIV n_pairs AS BIGINT)"
            ).alias("avg_cont_ppm"),
            F.expr(
                "CAST(CAST(cont_ppm_sum AS DECIMAL(38,0)) DIV n_pairs"
                " DIV 100000 AS BIGINT)"
            ).alias("fluency_band"),
        )
    )


LM_PERPLEXITY_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
doc_pairs AS (
  SELECT doc_id, toks[i] AS head, toks[i + 1] AS nxt
  FROM tk, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2),
counts AS (
  SELECT head, nxt, count(*) AS n FROM doc_pairs GROUP BY 1, 2),
heads AS (
  SELECT head, CAST(sum(n) AS BIGINT) AS n_head FROM counts GROUP BY 1),
probs AS (
  SELECT c.head, c.nxt,
         CAST(CAST(1000000 AS HUGEINT) * c.n // h.n_head AS BIGINT) AS cont_ppm
  FROM counts c JOIN heads h USING (head)),
per_doc AS (
  SELECT dp.doc_id, count(*) AS n_pairs,
         CAST(sum(p.cont_ppm) AS BIGINT) AS cont_ppm_sum
  FROM doc_pairs dp JOIN probs p USING (head, nxt)
  GROUP BY 1)
SELECT doc_id, n_pairs, cont_ppm_sum,
       CAST(CAST(cont_ppm_sum AS HUGEINT) // n_pairs AS BIGINT) AS avg_cont_ppm,
       CAST(CAST(cont_ppm_sum AS HUGEINT) // n_pairs // 100000 AS BIGINT)
         AS fluency_band
FROM per_doc
"""


def token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency spectrum (the Zipf-health readout): how many
    token types fall in each decimal-magnitude count band (1-9,
    10-99, 100-999, …) and how much token mass they carry.  A healthy
    natural-language corpus has a fat hapax band and a thin head; a
    template-dominated crawl inverts that.  The band is the token
    count's decimal digit length minus one — integer-exact in both
    engines, no float ``log10`` whose ulps could straddle a power of
    ten.

    Scale shape: one explode → vocab-sized count aggregate (map-side
    combined) → ~10-row band aggregate; type/mass shares are
    DECIMAL-exact ppm against broadcast scalar totals.  No global
    sort — the spectrum needs no ranks, unlike a top-k Zipf plot."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    cnt = (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    tot = cnt.agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.sum("cnt").cast("long").alias("n_total"),
    )
    return (
        cnt.withColumn("band", (F.length(F.col("cnt").cast("string")) - 1).cast("int"))
        .groupBy("band")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("cnt").cast("long").alias("mass"),
        )
        .crossJoin(F.broadcast(tot))  # 1-row scalar totals, by design
        .select(
            "band",
            "n_types",
            "mass",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_types"
                " DIV n_vocab AS BIGINT)"
            ).alias("types_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * mass"
                " DIV n_total AS BIGINT)"
            ).alias("mass_ppm"),
        )
    )


FREQ_SPECTRUM_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
cnt AS (
  SELECT t.tok, count(*) AS cnt
  FROM tk, unnest(toks) t(tok)
  GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(cnt) AS BIGINT) AS n_total
  FROM cnt)
SELECT CAST(length(CAST(cnt AS VARCHAR)) - 1 AS INT) AS band,
       count(*) AS n_types,
       CAST(sum(cnt) AS BIGINT) AS mass,
       CAST(CAST(1000000 AS HUGEINT) * count(*) // any_value(t.n_vocab)
            AS BIGINT) AS types_ppm,
       CAST(CAST(1000000 AS HUGEINT) * sum(cnt) // any_value(t.n_total)
            AS BIGINT) AS mass_ppm
FROM cnt, tot t
GROUP BY 1
"""


def _bigram_oracle() -> str:
    # no tournament in the oracle: a single window is exact (and
    # DuckDB-side efficiency is irrelevant), the tournament is purely
    # the Spark-side skew mitigation
    return f"""
WITH tk AS ({_TOKS_SQL}),
pairs AS (
  SELECT toks[i] AS head, toks[i + 1] AS nxt, count(*) AS n
  FROM tk, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2),
heads AS (
  SELECT head, CAST(sum(n) AS BIGINT) AS n_head FROM pairs GROUP BY 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY head
                               ORDER BY n DESC, nxt ASC) AS rank
  FROM pairs)
SELECT r.head, r.nxt, r.n, CAST(r.rank AS INT) AS rank, h.n_head,
       CAST(CAST(1000000 AS HUGEINT) * r.n // h.n_head AS BIGINT) AS cont_ppm
FROM ranked r JOIN heads h USING (head)
WHERE r.rank <= {BIGRAM_TOPK} AND h.n_head >= {BIGRAM_MIN_HEAD}
"""


BIGRAM_LM_ORACLE = _bigram_oracle()


#: collocations kept by the corpus-wide PMI ranking
PMI_TOPK = 20
#: minimum adjacent-pair support (PMI of singletons is noise)
PMI_MIN_PAIR = 5
#: level-1 tournament ways for the global top-k
PMI_BUCKETS = 16



def token_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide collocation mining: the PMI-strongest adjacent
    token pairs — the statistic behind multi-word-expression
    detection (word2vec's phrase pass, "new_york"-style merges)
    that a tokenizer-prep pipeline runs before vocabulary induction.

    PMI's ``log`` is monotone, so ranking by the integer lift ratio
    ``p(xy) / (p(x)·p(y)) = n_xy·N² / (M·n_x·n_y)`` (N = corpus
    tokens, M = corpus adjacent pairs) orders pairs identically to
    PMI with no transcendental whose ulps could differ cross-engine.
    The ratio is emitted as a parts-per-million via a two-step
    DECIMAL(38,0) floor-divide written identically in both engines:
    ``((1e6·n_xy·N) DIV (M·n_x)) · N DIV n_y`` — single-expression
    premultiply would need ~1e39 at trillion-token scale and pass
    DECIMAL(38); the nested form peaks at 1e6·n_xy·N ≤ ~1e32 and its
    intermediate floor costs ≤ 1/q1 relative error on a quotient
    that is ≥ 1e4 for any pair clearing PMI_MIN_PAIR.

    Scale shape: pair generation is row-local (the bigram-LM shape);
    unigram and pair tables are map-side-combined count aggregates;
    the two frequency lookups are equi-joins on the token key.  The
    global top-k never sorts the pair vocabulary in one task: level 1
    ranks within PMI_BUCKETS md5 buckets of the pair, level 2 ranks
    only the ≤ PMI_BUCKETS·PMI_TOPK bucket winners.

    Reference parity: beyond-reference text-analysis surface
    (BASELINE.json); the support/tournament machinery is shared with
    ``token_bigram_lm`` (`tfidf.py`)."""
    from .corpusops import _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    from ..io import swap_cache

    # the unigram and bigram count tables are vocab-bounded with
    # three consumers each (their own totals + the scoring joins), so
    # both persist for the invocation: the two token explodes are the
    # ONLY corpus passes — un-persisted, each consumer re-ran one
    uni = (
        d.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    pair_col = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("head"),
            F.element_at("toks", i + 1).alias("nxt"),
        ),
    )
    pairs_all = (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(pair_col).alias("p"))
        .groupBy(F.col("p.head").alias("head"), F.col("p.nxt").alias("nxt"))
        .agg(F.count("*").alias("n_pair"))
    )
    uni, pairs_all = swap_cache("tfidf.pmi", uni, pairs_all)
    pairs = pairs_all.filter(F.col("n_pair") >= PMI_MIN_PAIR)
    # corpus totals: two scalar rows, broadcast by construction.
    # M = Σ max(len-1, 0) — the UNFILTERED adjacent-pair count, so
    # p(xy) is a true probability (summing the support-filtered pair
    # table instead would inflate every surviving pair's PMI);
    # summing the unfiltered bigram table gives exactly that count
    # without another corpus pass
    n_total = uni.agg(F.sum("n_tok").cast("long").alias("n_total"))
    m_total = pairs_all.agg(F.sum("n_pair").cast("long").alias("m_total"))
    scored = (
        pairs.join(uni.withColumnsRenamed({"tok": "head", "n_tok": "n_head"}), "head")
        .join(uni.withColumnsRenamed({"tok": "nxt", "n_tok": "n_nxt"}), "nxt")
        .crossJoin(F.broadcast(n_total))
        .crossJoin(F.broadcast(m_total))
        .withColumn(
            "pmi_ratio_ppm",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_pair * n_total"
                " DIV (CAST(m_total AS DECIMAL(38,0)) * n_head))"
                " * n_total DIV n_nxt AS BIGINT)"
            ),
        )
    )
    w1 = Window.partitionBy("b").orderBy(
        F.desc("pmi_ratio_ppm"), F.asc("head"), F.asc("nxt")
    )
    w2 = Window.orderBy(F.desc("pmi_ratio_ppm"), F.asc("head"), F.asc("nxt"))
    return (
        scored.withColumn(
            "b",
            _hash_bucket(F.concat_ws("|", "head", "nxt"), "pmi|", PMI_BUCKETS),
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= PMI_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= PMI_TOPK)
        .select("head", "nxt", "n_pair", "pmi_ratio_ppm", F.col("rank").cast("int").alias("rank"))
    )


TOKEN_PMI_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
uni AS (
  SELECT tok, count(*) AS n_tok
  FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1),
pairs AS (
  SELECT toks[i] AS head, toks[i + 1] AS nxt, count(*) AS n_pair
  FROM tk, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2
  HAVING count(*) >= {PMI_MIN_PAIR}),
tot AS (
  SELECT (SELECT sum(n_tok) FROM uni) AS n_total,
         (SELECT sum(greatest(len(toks) - 1, 0)) FROM tk) AS m_total),
scored AS (
  SELECT p.head, p.nxt, p.n_pair,
         CAST((CAST(1000000 AS HUGEINT) * p.n_pair * t.n_total
               // (CAST(t.m_total AS HUGEINT) * hu.n_tok))
              * t.n_total // nu.n_tok AS BIGINT) AS pmi_ratio_ppm
  FROM pairs p
  JOIN uni hu ON hu.tok = p.head
  JOIN uni nu ON nu.tok = p.nxt
  CROSS JOIN tot t),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY pmi_ratio_ppm DESC,
                               head ASC, nxt ASC) AS rank
  FROM scored)
SELECT head, nxt, n_pair, pmi_ratio_ppm, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {PMI_TOPK}
"""


#: CCNet-style fluency buckets per language
N_PPX_BUCKETS = 3


def perplexity_bucket_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fluency-tercile cutoffs — the CCNet bucketing
    artifact (head/middle/tail by LM perplexity) that decides which
    slice of a crawl trains the model.

    The naive formulation is ``ntile(3) OVER (PARTITION BY lang ORDER
    BY score)`` — a full per-language sort whose biggest language is
    one task.  This plan never ranks documents: ``avg_cont_ppm`` lives
    on the integer grid [0, 10⁶], so the per-(lang, score) histogram
    is VOCABULARY-bounded (≤ 10⁶ + 1 rows per language at any corpus
    size); exact bucket boundaries fall out of the histogram's
    cumulative counts and pure rank arithmetic:

        hi_k  = k·(N div 3) + least(k, N mod 3)      (ntile hi rank)
        cutoff_k = min score whose cumulative count ≥ hi_k

    Emits (lang, bucket, n_docs, cutoff_ppm): n_docs is the exact
    ntile bucket size; cutoff_ppm is the score at the bucket's upper
    rank boundary — the published "percentile threshold" a later
    streaming gate compares against row-locally."""
    sc = lm_doc_perplexity(spark, sf_dir).select("doc_id", "avg_cont_ppm")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    hist = (
        sc.join(d, "doc_id")
        .groupBy("lang", "avg_cont_ppm")
        .agg(F.count("*").alias("n"))
    )
    # single lineage: the LM pipeline runs ONCE — both the cumulative
    # count and the language total come off the same bounded histogram
    # via two window frames, then each histogram row fans out to the
    # three candidate buckets row-locally (no self-join back)
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("avg_cont_ppm")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("lang")
    enriched = hist.select(
        "lang",
        "avg_cont_ppm",
        F.sum("n").over(w_cum).cast("long").alias("cum_n"),
        F.sum("n").over(w_all).cast("long").alias("n_total"),
    )
    return (
        enriched.withColumn(
            "bucket", F.explode(F.sequence(F.lit(1), F.lit(N_PPX_BUCKETS)))
        )
        .withColumn("bucket", F.col("bucket").cast("int"))
        .withColumn(
            "hi_k",
            F.expr(
                "CAST(bucket * (n_total div 3) + least(bucket, n_total % 3)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "n_docs",
            F.expr(
                "CAST((n_total div 3) + CASE WHEN bucket <= n_total % 3"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ),
        )
        .filter((F.col("n_docs") > 0) & (F.col("cum_n") >= F.col("hi_k")))
        .groupBy("lang", "bucket", "n_docs")
        .agg(F.min("avg_cont_ppm").cast("long").alias("cutoff_ppm"))
    )


PPX_CUTOFFS_ORACLE = f"""
WITH perdoc AS ({LM_PERPLEXITY_ORACLE}),
scored AS (
  SELECT p.doc_id, p.avg_cont_ppm, d.lang
  FROM perdoc p JOIN documents d USING (doc_id)),
hist AS (
  SELECT lang, avg_cont_ppm, count(*) AS n FROM scored GROUP BY 1, 2),
cum AS (
  SELECT lang, avg_cont_ppm,
         CAST(sum(n) OVER (PARTITION BY lang ORDER BY avg_cont_ppm
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_n
  FROM hist),
tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total FROM scored GROUP BY 1),
grid AS (
  SELECT lang, CAST(t.k AS INT) AS bucket,
         CAST(t.k * (n_total // 3) + least(t.k, n_total % 3) AS BIGINT) AS hi_k,
         CAST((n_total // 3) + CASE WHEN t.k <= n_total % 3 THEN 1 ELSE 0 END
              AS BIGINT) AS n_docs
  FROM tot, unnest(range(1, {N_PPX_BUCKETS} + 1)) t(k))
SELECT g.lang, g.bucket, g.n_docs,
       CAST(min(c.avg_cont_ppm) AS BIGINT) AS cutoff_ppm
FROM grid g JOIN cum c ON c.lang = g.lang AND c.cum_n >= g.hi_k
WHERE g.n_docs > 0
GROUP BY 1, 2, 3
"""


#: merges reported by the BPE induction step
BPE_MERGE_TOPK = 20
#: tournament sub-buckets for the merge ranking
BPE_MERGE_BUCKETS = 8


def bpe_merge_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE vocabulary-induction step over the corpus: count every
    adjacent character pair inside every word occurrence (the
    pair-frequency table tokenizer training recomputes after each
    merge) and rank the top candidate merges.  This is the map-reduce
    half of BPE training — the half that must scale to the corpus;
    the greedy merge loop itself is vocabulary-sized driver work.

    Plan: token explode → vocabulary-sized word-count aggregate (pair
    counting is weighted by word frequency, NOT re-scanned per
    occurrence — the standard trick that makes corpus-scale BPE
    cheap) → row-local pair fan-out (≤ word length) → one
    map-side-combined pair aggregate → two-level tournament top-K, no
    global sort."""
    from .corpusops import _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents"))
    words = (
        d.select(F.explode(ws_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_w"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "n_w",
    )
    agg = pairs.groupBy("pair").agg(F.sum("n_w").cast("long").alias("n_total"))
    w1 = Window.partitionBy("pb").orderBy(F.desc("n_total"), F.asc("pair"))
    w2 = Window.orderBy(F.desc("n_total"), F.asc("pair"))
    return (
        agg.withColumn(
            "pb", _hash_bucket(F.col("pair"), "bpe|", BPE_MERGE_BUCKETS)
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= BPE_MERGE_TOPK)
        .withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= BPE_MERGE_TOPK)
        .select("rank", "pair", "n_total")
    )


def _bpe_oracle() -> str:
    return f"""
WITH tk AS ({_TOKS_SQL}),
words AS (
  SELECT t.tok AS w, CAST(count(*) AS BIGINT) AS n_w
  FROM tk, unnest(toks) t(tok)
  GROUP BY 1),
pairs AS (
  SELECT substr(w, CAST(t.i AS INT), 2) AS pair, n_w
  FROM words, unnest(range(1, length(w))) t(i)
  WHERE length(w) >= 2),
agg AS (
  SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_total FROM pairs GROUP BY 1)
SELECT CAST(rank AS INT) AS rank, pair, n_total
FROM (SELECT *, row_number() OVER (ORDER BY n_total DESC, pair ASC) AS rank
      FROM agg)
WHERE rank <= {BPE_MERGE_TOPK}
"""


BPE_MERGE_ORACLE = _bpe_oracle()


def cross_split_lm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation with honest train/eval separation: the
    bigram continuation table is fit ONLY on the train split (the
    same `corpus_split` hash) and the val split is scored against it
    — per language: pair counts, out-of-vocabulary pair rate, and
    mean continuation ppm over covered pairs.  This is the
    train-on-train/eval-on-val discipline `split_decontaminate`
    protects, measured: leakage would inflate coverage and fluency.

    Scale shape: identical to `lm_doc_perplexity` (explode → two
    count aggregates → one equi-join on the bigram key) with a
    row-local split predicate fused into each scan."""
    from .corpusops import TRAIN_PCT, VAL_PCT, _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", ws_tokens("text").alias("toks")
    )
    b = _hash_bucket(F.col("doc_id"), "split|", 100)
    d = d.withColumn("bucket", b).filter(F.size("toks") >= 2)
    pair_col = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("head"),
            F.element_at("toks", i + 1).alias("nxt"),
        ),
    )
    pairs = d.select(
        "lang", "bucket", F.explode(pair_col).alias("p")
    ).select("lang", "bucket", "p.head", "p.nxt")

    train_pairs = pairs.filter(F.col("bucket") < TRAIN_PCT)
    counts = train_pairs.groupBy("head", "nxt").agg(F.count("*").alias("n"))
    # per-head mass via a window over the vocab-bounded counts table —
    # a heads aggregate joined back re-executes the corpus pair
    # explode a third time (same fix as lm_doc_perplexity)
    probs = counts.withColumn(
        "n_head", F.sum("n").over(Window.partitionBy("head")).cast("long")
    ).select(
        "head",
        "nxt",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_head AS BIGINT)"
        ).alias("cont_ppm"),
    )
    val_pairs = pairs.filter(
        (F.col("bucket") >= TRAIN_PCT) & (F.col("bucket") < VAL_PCT)
    )
    scored = val_pairs.join(probs, ["head", "nxt"], "left")
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        F.count("cont_ppm").cast("long").alias("n_covered"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (count(*) - count(cont_ppm))"
            " DIV count(*) AS BIGINT)"
        ).alias("oov_ppm"),
        F.expr(
            "CAST(CAST(coalesce(sum(cont_ppm), 0) AS DECIMAL(38,0))"
            " DIV greatest(count(cont_ppm), 1) AS BIGINT)"
        ).alias("mean_cont_ppm"),
    )


def _cross_split_oracle() -> str:
    from .corpusops import TRAIN_PCT, VAL_PCT, _hash_bucket_sql

    bucket = _hash_bucket_sql("CAST(doc_id AS VARCHAR)", "split|", 100)
    return f"""
WITH tk AS (
  SELECT doc_id, lang, ({bucket}) AS bucket,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t != '') AS toks
  FROM documents),
pairs AS (
  SELECT lang, bucket, toks[i] AS head, toks[i + 1] AS nxt
  FROM tk, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2),
counts AS (
  SELECT head, nxt, count(*) AS n FROM pairs
  WHERE bucket < {TRAIN_PCT} GROUP BY 1, 2),
heads AS (
  SELECT head, CAST(sum(n) AS BIGINT) AS n_head FROM counts GROUP BY 1),
probs AS (
  SELECT c.head, c.nxt,
         CAST(CAST(1000000 AS HUGEINT) * c.n // h.n_head AS BIGINT) AS cont_ppm
  FROM counts c JOIN heads h USING (head)),
scored AS (
  SELECT v.lang, p.cont_ppm
  FROM (SELECT * FROM pairs
        WHERE bucket >= {TRAIN_PCT} AND bucket < {VAL_PCT}) v
  LEFT JOIN probs p ON v.head = p.head AND v.nxt = p.nxt)
SELECT lang, count(*) AS n_pairs,
       CAST(count(cont_ppm) AS BIGINT) AS n_covered,
       CAST(CAST(1000000 AS HUGEINT) * (count(*) - count(cont_ppm))
            // count(*) AS BIGINT) AS oov_ppm,
       CAST(CAST(coalesce(sum(cont_ppm), 0) AS HUGEINT)
            // greatest(count(cont_ppm), 1) AS BIGINT) AS mean_cont_ppm
FROM scored GROUP BY 1
"""


CROSS_SPLIT_LM_ORACLE = _cross_split_oracle()


def token_weighted_median_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median of the rarity score per language: the
    smallest ``rare_ppm`` at which HALF THE TOKENS (not half the
    documents) sit at or below — the statistic that answers "what
    does the median training token look like", which doc-weighted
    percentiles (`perplexity_bucket_cutoffs`) get wrong whenever
    quality correlates with length (it does: boilerplate is short,
    books are long).

    Same no-sort discipline as the cutoff op: scores live on the ppm
    integer grid, so the (lang, score) histogram is grid-bounded at
    any corpus size; the median is the first histogram row whose
    doubled cumulative token mass reaches the total (pure integer
    comparison, no division, no per-doc sort).

    Scale shape: one corpus-sized aggregate (the per-doc score —
    already map-side combined inside `rare_token_quality`), one
    grid-bounded histogram aggregate, one window over the grid."""
    sc = rare_token_quality(spark, sf_dir).select("doc_id", "n_toks", "rare_ppm")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    hist = (
        sc.join(d, "doc_id")
        .groupBy("lang", "rare_ppm")
        .agg(F.sum("n_toks").cast("long").alias("toks"))
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("rare_ppm")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    cum = hist.withColumn("cum", F.sum("toks").over(w_cum)).withColumn(
        "total", F.sum("toks").over(w_tot)
    )
    med = cum.filter(2 * F.col("cum") >= F.col("total"))
    w_first = Window.partitionBy("lang").orderBy("rare_ppm")
    return (
        med.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "lang",
            F.col("total").alias("total_tokens"),
            F.col("rare_ppm").alias("median_cutoff_ppm"),
            F.col("cum").alias("tokens_at_or_below"),
        )
    )


TOKEN_WEIGHTED_MEDIAN_ORACLE = f"""
WITH score AS ({RARE_TOKEN_ORACLE}),
hist AS (
  SELECT d.lang, s.rare_ppm, CAST(sum(s.n_toks) AS BIGINT) AS toks
  FROM score s JOIN documents d USING (doc_id)
  GROUP BY 1, 2),
cum AS (
  SELECT *,
         sum(toks) OVER (PARTITION BY lang ORDER BY rare_ppm
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(toks) OVER (PARTITION BY lang) AS total
  FROM hist),
med AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY rare_ppm) AS rn
  FROM cum WHERE 2 * cum >= total)
SELECT lang,
       CAST(total AS BIGINT) AS total_tokens,
       median_cutoff_ppm,
       CAST(cum AS BIGINT) AS tokens_at_or_below
FROM (SELECT lang, total, rare_ppm AS median_cutoff_ppm, cum, rn FROM med)
WHERE rn = 1
"""


#: feature-hashing geometry: dimension count, query-doc stride, and
#: the top-k per query
FH_DIMS = 256
FH_STRIDE = 50
FH_K = 5


def _fh_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text similarity (Weinberger et al. 2009) — the
    embedding-free vectorizer: each token maps to one of FH_DIMS
    md5 buckets, a document becomes its sparse integer TF vector,
    and similarity is exact integer cosine² via the SPARSE dot
    product (an equi-join on the hashed dimension — posting-list
    work, never a dense d-dim scan).  The dense-embedding KNN family
    (cosine_topk_bruteforce → IVF-PQ) assumes a model produced the
    vectors; this is what a pipeline runs BEFORE any model exists —
    candidate generation, weak dedup, topic probes on raw text.

    All-integer ranking trick: TF vectors are non-negative, so cos is
    monotone in cos² = dot²/(‖a‖²·‖b‖²), which stays rational —
    cos2_ppm = 1e6·dot² DIV (na·nb), exact in int64 (dot ≤ Σtf·tf ≤
    ~4e5 on this corpus → dot²·1e6 ≤ ~1.3e17).  Top-FH_K per query
    doc (doc_id % FH_STRIDE == 0), score-desc with id tie-break.
    Scale: one token pass → (doc, dim, tf); the dot is a dim-keyed
    equi-join of query rows × corpus rows (FH_DIMS-blocked), and the
    per-query window partitions by query id."""
    from ..io import swap_cache
    from .corpusops import _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = swap_cache(
        "tfidf.fh",
        toks.select(
            "doc_id", _hash_bucket(F.col("tok"), "fh|", FH_DIMS).alias("dim")
        )
        .groupBy("doc_id", "dim")
        .agg(F.count("*").cast("long").alias("tf")),
    )
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("n2")
    )
    q = tf.filter(F.col("doc_id") % FH_STRIDE == 0).select(
        F.col("doc_id").alias("query_id"), "dim", F.col("tf").alias("tf_q")
    )
    dots = (
        q.join(tf, "dim")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("tf_q") * F.col("tf")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(
            norms.select(F.col("doc_id").alias("query_id"), F.col("n2").alias("nq")),
            "query_id",
        )
        .join(norms, "doc_id")
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            F.expr("1000000 * dot * dot DIV (nq * n2)")
            .cast("long")
            .alias("cos2_ppm"),
        )
    )
    return scored


def feature_hashing_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-FH_K hashed-TF cosine neighbors per query doc — see
    :func:`_fh_scored` for the vectorizer and the all-integer cos²
    ranking contract."""
    scored = _fh_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos2_ppm"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= FH_K)
        .select("query_id", "neighbor_id", "cos2_ppm", "rank")
    )


def lexical_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query doc,
    the top lexically-similar documents that are NOT near-duplicates
    — high hashed-TF cos² (so the pair is genuinely confusable) with
    the certified MinHash/LSH near-dup pairs anti-joined away (so it
    is not a positive in disguise, the standard false-negative
    poisoning hazard).  `triplet_margin_mining` mines EMBEDDING-space
    negatives against labels; this is its lexical, label-free
    sibling — the miner that runs before any model or label exists.

    Plan: the one persisted hashed-TF scored frame re-ranked after a
    left-anti join against the symmetrized dup-pair set (pair-sized,
    never corpus-sized); same all-integer contract as the KNN."""
    scored = _fh_scored(spark, sf_dir)
    dups = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = dups.select(
        F.col("doc_a").alias("query_id"), F.col("doc_b").alias("neighbor_id")
    ).unionByName(
        dups.select(
            F.col("doc_b").alias("query_id"),
            F.col("doc_a").alias("neighbor_id"),
        )
    )
    kept = scored.join(sym, ["query_id", "neighbor_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos2_ppm"), F.asc("neighbor_id")
    )
    return (
        kept.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= FH_K)
        .select(
            "query_id",
            F.col("neighbor_id").alias("negative_id"),
            "cos2_ppm",
            "rank",
        )
    )


def _fh_scored_sql() -> str:
    from .corpusops import _hash_bucket_sql

    dim = _hash_bucket_sql("tok", "fh|", FH_DIMS)
    return rf"""toks AS (
  SELECT doc_id, t.tok
  FROM documents,
       unnest(list_filter(regexp_split_to_array(
           trim(lower(text)), '\s+'), x -> x != '')) t(tok)),
tf AS MATERIALIZED (
  SELECT doc_id, ({dim}) AS dim, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2),
norms AS (
  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
dots AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         CAST(sum(q.tf * c.tf) AS BIGINT) AS dot
  FROM tf q JOIN tf c ON q.dim = c.dim AND c.doc_id != q.doc_id
  WHERE q.doc_id % {FH_STRIDE} = 0
  GROUP BY 1, 2),
scored0 AS (
  SELECT d.query_id, d.neighbor_id,
         CAST((1000000 * d.dot * d.dot) // (nq.n2 * nn.n2) AS BIGINT)
           AS cos2_ppm
  FROM dots d
  JOIN norms nq ON nq.doc_id = d.query_id
  JOIN norms nn ON nn.doc_id = d.neighbor_id),
scored AS MATERIALIZED (SELECT * FROM scored0)"""


def _fh_oracle() -> str:
    return f"""
WITH {_fh_scored_sql()},
ranked AS (
  SELECT query_id, neighbor_id, cos2_ppm,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos2_ppm DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, cos2_ppm, rank
FROM ranked WHERE rank <= {FH_K}
"""


def _hard_neg_oracle() -> str:
    from .dedup import MINHASH_ORACLE

    return f"""
WITH {_fh_scored_sql()},
dups AS MATERIALIZED ({MINHASH_ORACLE.strip()}),
sym AS (
  SELECT doc_a AS query_id, doc_b AS neighbor_id FROM dups
  UNION ALL
  SELECT doc_b, doc_a FROM dups),
kept AS (
  SELECT s.* FROM scored s
  LEFT JOIN sym ON s.query_id = sym.query_id
               AND s.neighbor_id = sym.neighbor_id
  WHERE sym.query_id IS NULL),
ranked AS (
  SELECT query_id, neighbor_id, cos2_ppm,
         CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos2_ppm DESC, neighbor_id ASC) AS INT) AS rank
  FROM kept)
SELECT query_id, neighbor_id AS negative_id, cos2_ppm, rank
FROM ranked WHERE rank <= {FH_K}
"""




#: Kneser-Ney geometry: absolute discount D = KN_D_NUM/KN_D_DEN and
#: the report depth
KN_D_NUM, KN_D_DEN = 3, 4
KN_TOPK = 20


def kneser_ney_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — the smoothing
    the MLE table (`token_bigram_lm`) lacks: mass discounted from
    observed bigrams is redistributed by CONTINUATION counts ("how
    many contexts precede w2"), the correction that stops frequent-
    but-context-locked tokens from dominating backoff (Kneser & Ney
    1995; Chen & Goodman 1999 — the LM smoothing perplexity filters
    and quality scorers build on).

    Exact rational arithmetic: with D = 3/4 the interpolated
    probability clears to ONE integer quotient,

      p = ((4c − 3)·T + 3·N1+(w1·)·N1+(·w2)) / (4·c(w1·)·T)

    (T = total distinct bigram types), floored to ppm in
    DECIMAL(38,0) — no float ever appears, so the engines agree
    bit-for-bit.  Emitted for the KN_TOPK most frequent bigrams
    (count desc, head asc, nxt asc) next to the MLE ppm, so the
    smoothing delta is visible per row.

    Scale shape: every statistic (head mass, head fan-out,
    continuation counts, type total) is an aggregate of the SAME
    vocab-bounded pairs table; the top-k is the two-level
    tournament — no global sort, no corpus re-scan."""
    from ..io import swap_cache
    from .corpusops import _hash_bucket

    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    pair_col = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("head"),
            F.element_at("toks", i + 1).alias("nxt"),
        ),
    )
    pairs = swap_cache(
        "tfidf.kn_pairs",
        d.filter(F.size("toks") >= 2)
        .select(F.explode(pair_col).alias("p"))
        .groupBy(F.col("p.head").alias("head"), F.col("p.nxt").alias("nxt"))
        .agg(F.count("*").cast("long").alias("n")),
    )
    heads = pairs.groupBy("head").agg(
        F.sum("n").cast("long").alias("ch"),
        F.count("*").cast("long").alias("fanout"),
    )
    conts = pairs.groupBy("nxt").agg(
        F.count("*").cast("long").alias("ncont")
    )
    total = pairs.agg(F.count("*").cast("long").alias("t_types"))
    w1 = Window.partitionBy("tb").orderBy(
        F.desc("n"), F.asc("head"), F.asc("nxt")
    )
    w2 = Window.orderBy(F.desc("n"), F.asc("head"), F.asc("nxt"))
    top = (
        pairs.withColumn(
            "tb", _hash_bucket(F.concat_ws("|", "head", "nxt"), "kn|", BIGRAM_BUCKETS)
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= KN_TOPK)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= KN_TOPK)
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return (
        top.join(F.broadcast(heads), "head")
        .join(F.broadcast(conts), "nxt")
        .crossJoin(F.broadcast(total))  # 1-row scalar, by design
        .select(
            "rank",
            "head",
            "nxt",
            "n",
            "ch",
            "fanout",
            "ncont",
            F.expr(
                f"CAST(({dec.format('1000000')}"
                f" * ((4 * n - 3) * t_types + 3 * fanout * ncont))"
                f" DIV ({dec.format('4')} * ch * t_types) AS BIGINT)"
            ).alias("kn_ppm"),
            F.expr(
                f"CAST(({dec.format('1000000')} * n)"
                f" DIV ({dec.format('ch')}) AS BIGINT)"
            ).alias("mle_ppm"),
        )
    )


KNESER_NEY_ORACLE = rf"""
WITH d AS (
  SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                     t -> t != '') AS toks
  FROM documents),
pl AS (
  SELECT toks[CAST(i AS INT) + 1] AS head,
         toks[CAST(i AS INT) + 2] AS nxt
  FROM d, unnest(range(0, len(toks) - 1)) u(i)
  WHERE len(toks) >= 2),
pairs AS MATERIALIZED (
  SELECT head, nxt, CAST(count(*) AS BIGINT) AS n FROM pl GROUP BY 1, 2),
heads AS (
  SELECT head, CAST(sum(n) AS BIGINT) AS ch,
         CAST(count(*) AS BIGINT) AS fanout
  FROM pairs GROUP BY 1),
conts AS (
  SELECT nxt, CAST(count(*) AS BIGINT) AS ncont FROM pairs GROUP BY 1),
total AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM pairs),
top AS (
  SELECT head, nxt, n,
         CAST(row_number() OVER (ORDER BY n DESC, head, nxt) AS INT) AS rank
  FROM pairs QUALIFY rank <= {KN_TOPK})
SELECT t.rank, t.head, t.nxt, t.n, h.ch, h.fanout, c.ncont,
       CAST((CAST(1000000 AS HUGEINT)
             * ((4 * t.n - 3) * x.t_types + 3 * h.fanout * c.ncont))
            // (CAST(4 AS HUGEINT) * h.ch * x.t_types) AS BIGINT) AS kn_ppm,
       CAST((CAST(1000000 AS HUGEINT) * t.n)
            // CAST(h.ch AS HUGEINT) AS BIGINT) AS mle_ppm
FROM top t
JOIN heads h USING (head)
JOIN conts c USING (nxt)
CROSS JOIN total x
"""


QUERIES = {
    "feature_hashing_knn": feature_hashing_knn,
    "lexical_hard_negatives": lexical_hard_negatives,
    "term_salience_topk": term_salience_topk,
    "rare_token_quality": rare_token_quality,
    "token_bigram_lm": token_bigram_lm,
    "kneser_ney_bigram_lm": kneser_ney_bigram_lm,
    "lm_doc_perplexity": lm_doc_perplexity,
    "token_frequency_spectrum": token_frequency_spectrum,
    "perplexity_bucket_cutoffs": perplexity_bucket_cutoffs,
    "bpe_merge_topk": bpe_merge_topk,
    "cross_split_lm_eval": cross_split_lm_eval,
    "token_pmi_topk": token_pmi_topk,
    "token_weighted_median_quality": token_weighted_median_quality,
}

ORACLES = {
    "feature_hashing_knn": _fh_oracle(),
    "lexical_hard_negatives": _hard_neg_oracle(),
    "term_salience_topk": TERM_SALIENCE_ORACLE,
    "rare_token_quality": RARE_TOKEN_ORACLE,
    "token_bigram_lm": BIGRAM_LM_ORACLE,
    "kneser_ney_bigram_lm": KNESER_NEY_ORACLE,
    "lm_doc_perplexity": LM_PERPLEXITY_ORACLE,
    "token_frequency_spectrum": FREQ_SPECTRUM_ORACLE,
    "perplexity_bucket_cutoffs": PPX_CUTOFFS_ORACLE,
    "bpe_merge_topk": BPE_MERGE_ORACLE,
    "cross_split_lm_eval": CROSS_SPLIT_LM_ORACLE,
    "token_pmi_topk": TOKEN_PMI_ORACLE,
    "token_weighted_median_quality": TOKEN_WEIGHTED_MEDIAN_ORACLE,
}
