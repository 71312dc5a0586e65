"""Ranked retrieval over the documents corpus: a log-free rational
BM25 scorer and hybrid lexical+vector reciprocal-rank fusion.

Beyond the reference's scope (its text columns are passthrough,
`CSV PARSER/gcp_csv.py:43-45`); these are the serving-side passes a
retrieval / RAG stack runs on top of the inverted index that
``operators/indexing.py`` builds:

- ``bm25_rational_topk``: BM25-family relevance ranking for a fixed
  query termset.  The classic BM25 idf is ``ln((N-df+0.5)/(df+0.5))``
  — a transcendental whose last ulp differs across engines, so this
  operator uses the *log-free rational variant*: the same odds ratio
  without the log, ``(2N-2df+1)/(2df+1)``.  Monotone in the classic
  idf, so it induces the same document ordering per term, and it is a
  ratio of integers — the whole score is one exact integer-arithmetic
  expression, bit-identical in Spark and DuckDB.
- ``rrf_hybrid_fusion``: reciprocal-rank fusion (Cormack et al.,
  SIGIR'09) of the BM25 ranking with an int8-quantized cosine ranking
  against a query embedding.  RRF's score ``sum(1/(60+rank))`` is a
  sum of unit fractions — premultiplied by 1e9 and floored per leg it
  is again exact integer arithmetic in both engines.

Scale shape (100 TB):

- BM25 candidate generation filters the exploded token stream to the
  query termset BEFORE the shuffle — only postings of query terms
  (a vanishing fraction of the corpus token mass) ever move. Per-term
  df and the corpus totals (N docs, L tokens) are one-row aggregates
  broadcast back onto the candidate set.
- Both top-K selections run the repo's two-level hash-bucket
  tournament (the ``token_bigram_lm`` / postings-head pattern): level
  1 keeps K per (doc-hash-bucket), level 2 merges the bounded
  survivors — no global sort, no single-task window, even when a
  query term is a stop word matching every document.
- Fusion joins two K-row legs — driver-trivial at any corpus size;
  the quantized-dot leg broadcasts ONE query vector onto the
  embeddings scan (row-local integer dot, no pairwise anything).

Overflow discipline (the round-3 ADVICE class): the cross-multiplied
BM25 quotient reaches ``1e12 · 22·tf · (2N+1)`` ≈ 1e30 for a
trillion-document corpus — far past int64 — so the quotient runs in
DECIMAL(38,0) on the Spark side and HUGEINT on the DuckDB side
(DuckDB's ``//`` on DECIMAL rounds instead of flooring; HUGEINT
floors like Spark's integral DIV — see ``ml.COHESION_ORACLE``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import fan_out, table
from .corpusops import _hash_bucket
from .ml import embedding_quantize
from .textops import ws_tokens

#: fixed query termset (fixture vocabulary; literal by design — a
#: real deployment binds these per request)
QUERY_TERMS = ("spark", "vector", "merge", "window", "stream")
#: documents returned by the BM25 ranking
BM25_K = 20
#: per-leg candidate depth for rank fusion
RRF_DEPTH = 50
#: fused documents returned
RRF_K = 10
#: RRF rank-offset constant (Cormack et al. use 60)
RRF_C = 60
#: query vector for the dense leg = embedding of this vec_id
RRF_QUERY_VEC = 0
#: tournament ways for the top-K selections
_N_WAYS = 8


def _tournament_topk(df: DataFrame, order_cols, k: int, bucket_key) -> DataFrame:
    """Two-level hash-bucket top-k: never materializes a global sort.

    Level 1 ranks within _N_WAYS hash sub-streams of ``bucket_key``
    (parallelism _N_WAYS regardless of skew), level 2 merges the
    ≤ _N_WAYS·k survivors in one bounded-size window partition."""
    w1 = Window.partitionBy("tb").orderBy(*order_cols)
    lvl1 = (
        df.withColumn("tb", _hash_bucket(bucket_key, "topk|", _N_WAYS))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
    )
    w2 = Window.orderBy(*order_cols)
    return (
        lvl1.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("tb", "rn")
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rational-BM25 score over QUERY_TERMS.

    k1=1.2, b=0.75 cleared to integers (×10): tf-component
    ``22·tf / (10·tf + 3 + 9·dl/avgdl)``; with ``r_ppm =
    floor(1e6·dl·N/L)`` (exact integer in both engines) the score is

      score_ppm = (1e6 · (2N-2df+1) · 22·tf · 1e6)
                  DIV ((2df+1) · (10e6·tf + 3e6 + 9·r_ppm))
    """
    scored = _bm25_candidates(spark, sf_dir).withColumn(
        "score_ppm",
        F.expr(
            "CAST(CAST(1000000000000 AS DECIMAL(38,0))"
            " * (2 * n_docs - 2 * df + 1) * 22 * tf"
            " DIV (CAST(2 * df + 1 AS DECIMAL(38,0))"
            "      * (10000000 * tf + 3000000 + CAST(9 AS DECIMAL(38,0)) * r_ppm))"
            " AS BIGINT)"
        ),
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("score_ppm").cast("long").alias("bm25_ppm"),
        F.count("*").cast("int").alias("n_terms_hit"),
    )


def _bm25_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scorer-input frame — query-term postings with tf, df,
    corpus totals, and the exact-integer length ratio r_ppm —
    extracted from ``_bm25_scored`` (round 12) so parameter-variant
    scorers share the candidate lineage; the isin filter still runs
    before the groupBy shuffle, so non-query tokens never leave the
    scan stage."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", ws_tokens("text").alias("toks")
    )
    docs = d.select("doc_id", "lang", F.size("toks").alias("dl"), "toks")
    totals = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("l_total"),
    )
    from ..io import swap_cache

    # persist the query-term postings (≤ |terms| × docs rows): the
    # df aggregate and the scorer join both consume td, and every
    # parameter-variant scorer (rbo's alt leg, PRF's two passes)
    # re-enters this builder — CacheManager dedups by logical plan,
    # so repeated invocations inside one report share the one cached
    # build (r14 scan sweep: ranking_rbo_report at 6 documents
    # scans; guide §2.4)
    td = swap_cache(
        "retrieval.bm25_td",
        docs.select("doc_id", "lang", "dl", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*QUERY_TERMS))
        .groupBy("tok", "doc_id", "lang", "dl")
        .agg(F.count("*").cast("long").alias("tf")),
    )
    df_stats = td.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    return (
        td.join(F.broadcast(df_stats), "tok")
        .crossJoin(F.broadcast(totals))  # 1-row scalar totals, by design
        .withColumn(
            "r_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * dl * n_docs"
                " DIV CAST(l_total AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
    )


def bm25_rational_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BM25_K documents for QUERY_TERMS by rational BM25,
    deterministic tiebreak (score desc, doc_id asc)."""
    scored = _bm25_scored(spark, sf_dir)
    order = [F.desc("bm25_ppm"), F.asc("doc_id")]
    return _tournament_topk(scored, order, BM25_K, F.col("doc_id")).select(
        "rank", "doc_id", "lang", "bm25_ppm", "n_terms_hit"
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

_BM25_SCORED_SQL = rf"""
docs AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
sized AS (
  SELECT doc_id, lang, len(toks) AS dl, toks FROM docs),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS l_total
  FROM sized),
td AS (
  SELECT tok, doc_id, lang, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, lang, dl, unnest(toks) AS tok FROM sized)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2, 3, 4),
dfs AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM td GROUP BY 1),
scored AS (
  SELECT td.doc_id, td.lang, td.tf, dfs.df, td.dl, t.n_docs, t.l_total,
         CAST(CAST(1000000 AS HUGEINT) * td.dl * t.n_docs
              // CAST(t.l_total AS HUGEINT) AS BIGINT) AS r_ppm
  FROM td JOIN dfs USING (tok) CROSS JOIN totals t),
perdoc AS (
  SELECT doc_id, lang,
         CAST(sum(CAST(CAST(1000000000000 AS HUGEINT)
                       * (2 * n_docs - 2 * df + 1) * 22 * tf
                       // (CAST(2 * df + 1 AS HUGEINT)
                           * (10000000 * tf + 3000000
                              + CAST(9 AS HUGEINT) * r_ppm))
                       AS BIGINT)) AS BIGINT) AS bm25_ppm,
         CAST(count(*) AS INT) AS n_terms_hit
  FROM scored GROUP BY 1, 2)
"""

BM25_ORACLE = f"""
WITH {_BM25_SCORED_SQL}
SELECT CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
         AS rank,
       doc_id, lang, bm25_ppm, n_terms_hit
FROM perdoc
QUALIFY rank <= {BM25_K}
"""


def _rrf_rank_legs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two top-RRF_DEPTH ranking legs — rational-BM25 lexical
    and int8-cosine dense (query = vec RRF_QUERY_VEC) — as
    (doc_id, bm25_rank) / (doc_id, dense_rank).  Extracted from
    ``rrf_hybrid_fusion`` (round 12) so the rank-agreement report
    shares the certified legs; both legs are tournament top-k, never
    a global sort."""
    bm25 = _tournament_topk(
        _bm25_scored(spark, sf_dir),
        [F.desc("bm25_ppm"), F.asc("doc_id")],
        RRF_DEPTH,
        F.col("doc_id"),
    ).select("doc_id", F.col("rank").alias("bm25_rank"))

    qd = embedding_quantize(spark, sf_dir).select("vec_id", "q")
    qvec = qd.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("q").alias("qq")
    )
    qdot = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dense_scored = (
        qd.crossJoin(F.broadcast(qvec))  # 1-row query vector, by design
        .filter(F.col("vec_id") != RRF_QUERY_VEC)
        .select(F.col("vec_id").alias("doc_id"), qdot.alias("qdot"))
    )
    dense = _tournament_topk(
        dense_scored,
        [F.desc("qdot"), F.asc("doc_id")],
        RRF_DEPTH,
        F.col("doc_id"),
    ).select("doc_id", F.col("rank").alias("dense_rank"))
    return bm25, dense


def rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the rational-BM25 lexical ranking with
    an int8-quantized cosine ranking (query = embedding of vec_id
    RRF_QUERY_VEC, fixture doc_id == vec_id alignment per
    FIXTURES.md) by reciprocal-rank fusion.

    Each leg contributes ``floor(1e9 / (RRF_C + rank))`` for its
    top-RRF_DEPTH documents (0 when absent from a leg); the fused
    top-RRF_K is returned with deterministic tiebreak (fused score
    desc, doc_id asc).  1e9 // (60+rank) is exact unit-fraction
    arithmetic — no float surface anywhere in the fusion."""
    bm25, dense = _rrf_rank_legs(spark, sf_dir)
    fused = (
        bm25.join(dense, "doc_id", "full_outer")
        .withColumn(
            "rrf_e9",
            F.coalesce(
                F.expr(f"CAST(1000000000 DIV ({RRF_C} + bm25_rank) AS BIGINT)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr(f"CAST(1000000000 DIV ({RRF_C} + dense_rank) AS BIGINT)"),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("bm25_rank", F.coalesce("bm25_rank", F.lit(0)))
        .withColumn("dense_rank", F.coalesce("dense_rank", F.lit(0)))
    )
    w = Window.orderBy(F.desc("rrf_e9"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= RRF_K)
        .select("fused_rank", "doc_id", "rrf_e9", "bm25_rank", "dense_rank")
    )


#: the two ranking legs (lexical + dense), shared by RRF_ORACLE and
#: the RBO oracle — one certified SQL lineage, two consumers
_RRF_LEGS_SQL = f"""{_BM25_SCORED_SQL},
bm25_leg AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
           AS bm25_rank
  FROM perdoc
  QUALIFY bm25_rank <= {RRF_DEPTH}),
qd AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) > 0
              THEN list_transform(embedding,
                     v -> CAST(floor(CAST(v AS DOUBLE) * 127.0
                               / list_max(list_transform(embedding,
                                            u -> abs(CAST(u AS DOUBLE))))) AS BIGINT))
              ELSE list_transform(embedding, v -> CAST(0 AS BIGINT)) END AS q
  FROM embeddings),
qv AS (SELECT q AS qq FROM qd WHERE vec_id = {RRF_QUERY_VEC}),
dense_leg AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (
            ORDER BY list_dot_product(c.q, qv.qq) DESC, c.vec_id ASC) AS INT)
           AS dense_rank
  FROM qd c CROSS JOIN qv
  WHERE c.vec_id != {RRF_QUERY_VEC}
  QUALIFY dense_rank <= {RRF_DEPTH})"""

RRF_ORACLE = f"""
WITH {_RRF_LEGS_SQL},
fused AS (
  SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         coalesce(CAST(1000000000 // ({RRF_C} + b.bm25_rank) AS BIGINT), 0)
         + coalesce(CAST(1000000000 // ({RRF_C} + d.dense_rank) AS BIGINT), 0)
           AS rrf_e9,
         coalesce(b.bm25_rank, 0) AS bm25_rank,
         coalesce(d.dense_rank, 0) AS dense_rank
  FROM bm25_leg b FULL OUTER JOIN dense_leg d ON b.doc_id = d.doc_id)
SELECT CAST(row_number() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS INT)
         AS fused_rank,
       doc_id, rrf_e9, bm25_rank, dense_rank
FROM fused
QUALIFY fused_rank <= {RRF_K}
"""


#: RBO evaluation depth and persistence p = RBO_P_NUM/RBO_P_DEN
RBO_K = 10
RBO_P_NUM, RBO_P_DEN = 9, 10
#: exact-rational machinery: term d of RBO's sum is
#: p^(d-1)·A_d/d = A_d·N_d / DEN with N_d = 9^(d-1)·10^(K-d)·(2520/d)
#: and DEN = 10^K·2520 (2520 = lcm(1..10), so every N_d is integer);
#: _RBO_PREFIX[i] = Σ_{d<=i-1} N_d lets a doc matched at depth m
#: contribute Σ_{d'=m..d} N_d' = PREFIX[d+1] − PREFIX[m] — no window
_RBO_N = [
    (RBO_P_NUM ** (d - 1)) * (RBO_P_DEN ** (RBO_K - d)) * (2520 // d)
    for d in range(1, RBO_K + 1)
]
_RBO_PREFIX = [0]
for _n in _RBO_N:
    _RBO_PREFIX.append(_RBO_PREFIX[-1] + _n)
_RBO_DEN = (RBO_P_DEN ** RBO_K) * 2520


def ranking_rbo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al., TOIS 2010) between two
    PARAMETERIZATIONS of the BM25 ranker — k1=1.2, b=0.75 (the
    certified default) vs k1=2.0, b=0.25 (weak length normalization,
    slow tf saturation) — the top-weighted "how sensitive is my
    ranking to scorer parameters" audit a retrieval team runs before
    locking BM25 constants (plain set-overlap misses WHERE the lists
    disagree; RBO discounts depth-d disagreement by p^d, so a rank
    1↔2 swap moves it while a 9↔10 swap barely does).

    One row per depth d = 1..RBO_K: the overlap |L_d ∩ S_d|, the
    agreement ratio, and the truncated RBO_d — all EXACT integers:
    RBO's p^(d-1)/d terms are rationals over the fixed denominator
    10^K·2520, precomputed as prefix-sum literals, so a doc matched
    at depth m contributes PREFIX[d+1] − PREFIX[m] to every report
    row d ≥ m and the e6 floor quotient is decided in DECIMAL(38,0),
    never float.  (The lexical-vs-dense RBO on this fixture is
    identically zero — the legs share no top-K member — so the
    parameter-sensitivity pair is the pair that makes the metric
    load-bearing; the alt spelling ``6·tf / (2e6·tf + 3e6 + r_ppm)``
    is the same rational-BM25 algebra at the new constants.)

    Both legs reuse the certified ``_bm25_candidates`` postings
    (tournament top-k, no global sort); the depth×match join is a
    ≤ K×K nested loop over two broadcast-bounded frames — constant
    work at any corpus size."""
    cand = _bm25_candidates(spark, sf_dir)
    alt = cand.withColumn(
        "score_ppm",
        F.expr(
            "CAST(CAST(1000000000000 AS DECIMAL(38,0))"
            " * (2 * n_docs - 2 * df + 1) * 6 * tf"
            " DIV (CAST(2 * df + 1 AS DECIMAL(38,0))"
            "      * (2000000 * tf + 3000000 + CAST(r_ppm AS DECIMAL(38,0))))"
            " AS BIGINT)"
        ),
    ).groupBy("doc_id").agg(
        F.sum("score_ppm").cast("long").alias("alt_ppm")
    )
    leg1 = _tournament_topk(
        _bm25_scored(spark, sf_dir),
        [F.desc("bm25_ppm"), F.asc("doc_id")],
        RBO_K,
        F.col("doc_id"),
    ).select("doc_id", F.col("rank").alias("r1"))
    leg2 = _tournament_topk(
        alt,
        [F.desc("alt_ppm"), F.asc("doc_id")],
        RBO_K,
        F.col("doc_id"),
    ).select("doc_id", F.col("rank").alias("r2"))
    matched = leg1.join(leg2, "doc_id").select(
        F.greatest(F.col("r1"), F.col("r2")).alias("m")
    )
    depth = spark.range(1, RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    pre = F.array(*[F.lit(x) for x in _RBO_PREFIX])
    per = depth.join(
        F.broadcast(matched), F.col("m") <= F.col("d"), "left"
    ).groupBy("d").agg(
        F.count("m").cast("long").alias("overlap_d"),
        F.coalesce(
            F.sum(
                F.element_at(pre, F.col("d") + 1)
                - F.element_at(pre, F.col("m"))
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("rbo_num"),
    )
    return per.select(
        "d",
        "overlap_d",
        F.expr("1000000 * overlap_d DIV d").cast("long").alias(
            "agreement_ppm"
        ),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * rbo_num"
            f" DIV {_RBO_DEN} AS BIGINT)"
        ).alias("rbo_e6"),
    )


def _rbo_oracle() -> str:
    pre = "[" + ", ".join(str(x) for x in _RBO_PREFIX) + "]"
    return f"""
WITH {_BM25_SCORED_SQL},
perdoc2 AS (
  SELECT doc_id,
         CAST(sum(CAST(CAST(1000000000000 AS HUGEINT)
                       * (2 * n_docs - 2 * df + 1) * 6 * tf
                       // (CAST(2 * df + 1 AS HUGEINT)
                           * (2000000 * tf + 3000000
                              + CAST(r_ppm AS HUGEINT)))
                       AS BIGINT)) AS BIGINT) AS alt_ppm
  FROM scored GROUP BY 1),
leg1 AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
           AS r1
  FROM perdoc QUALIFY r1 <= {RBO_K}),
leg2 AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY alt_ppm DESC, doc_id ASC) AS INT)
           AS r2
  FROM perdoc2 QUALIFY r2 <= {RBO_K}),
matched AS (
  SELECT greatest(a.r1, b.r2) AS m
  FROM leg1 a JOIN leg2 b ON a.doc_id = b.doc_id),
depth AS (SELECT CAST(t.d AS INT) AS d FROM range(1, {RBO_K + 1}) t(d)),
pre(a) AS (SELECT {pre}),
per AS (
  SELECT depth.d,
         CAST(count(m.m) AS BIGINT) AS overlap_d,
         CAST(coalesce(sum((SELECT a FROM pre)[depth.d + 1]
                           - (SELECT a FROM pre)[m.m]), 0) AS HUGEINT)
           AS rbo_num
  FROM depth LEFT JOIN matched m ON m.m <= depth.d
  GROUP BY 1)
SELECT d, overlap_d,
       CAST(1000000 * overlap_d // d AS BIGINT) AS agreement_ppm,
       CAST(CAST(1000000 AS HUGEINT) * rbo_num // {_RBO_DEN} AS BIGINT)
         AS rbo_e6
FROM per
"""


#: boolean retrieval expressions certified (name → doc-flag predicate)
BOOL_TERMS = ("spark", "vector", "merge")


def boolean_retrieval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval over term presence — the bitmap-index
    complement to the BM25 ranker: for AND / OR / AND-NOT
    combinations of BOOL_TERMS, the matching document count, the
    doc_id range, and an order-independent membership checksum
    (sum of doc_ids).

    Scale shape: presence flags are row-local ``array_contains`` over
    the token array (no explode, no join — at index-serving scale
    these are bitmap intersections over the postings built by
    ``inverted_index_postings``); the census is ONE map-side-combined
    aggregate emitting all expressions at once, unpivoted to a row
    per expression."""
    t0, t1, t2 = BOOL_TERMS
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    flags = d.select(
        "doc_id",
        *[
            F.array_contains("toks", t).alias(f"has_{i}")
            for i, t in enumerate(BOOL_TERMS)
        ],
    )
    exprs = {
        f"{t0}_and_{t1}": F.col("has_0") & F.col("has_1"),
        f"{t0}_or_{t1}": F.col("has_0") | F.col("has_1"),
        f"{t0}_and_not_{t2}": F.col("has_0") & ~F.col("has_2"),
        f"all_three": F.col("has_0") & F.col("has_1") & F.col("has_2"),
    }
    agg = flags.agg(
        *[
            f
            for name, cond in exprs.items()
            for f in (
                F.sum(cond.cast("long")).alias(f"n__{name}"),
                F.min(F.when(cond, F.col("doc_id"))).alias(f"lo__{name}"),
                F.max(F.when(cond, F.col("doc_id"))).alias(f"hi__{name}"),
                F.sum(F.when(cond, F.col("doc_id")).otherwise(0))
                .cast("long")
                .alias(f"ck__{name}"),
            )
        ]
    )
    stack = ", ".join(
        f"'{name}', n__{name}, lo__{name}, hi__{name}, ck__{name}"
        for name in exprs
    )
    return agg.select(
        F.expr(
            f"stack({len(exprs)}, {stack})"
            " AS (expr, n_docs, min_doc, max_doc, doc_id_checksum)"
        )
    )


BOOLEAN_ORACLE = rf"""
WITH flags AS (
  SELECT doc_id,
         list_contains(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t != ''), '{BOOL_TERMS[0]}') AS h0,
         list_contains(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t != ''), '{BOOL_TERMS[1]}') AS h1,
         list_contains(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                   t -> t != ''), '{BOOL_TERMS[2]}') AS h2
  FROM documents),
e AS (
  SELECT '{BOOL_TERMS[0]}_and_{BOOL_TERMS[1]}' AS expr, doc_id,
         (h0 AND h1) AS hit FROM flags
  UNION ALL
  SELECT '{BOOL_TERMS[0]}_or_{BOOL_TERMS[1]}', doc_id, (h0 OR h1) FROM flags
  UNION ALL
  SELECT '{BOOL_TERMS[0]}_and_not_{BOOL_TERMS[2]}', doc_id,
         (h0 AND NOT h2) FROM flags
  UNION ALL
  SELECT 'all_three', doc_id, (h0 AND h1 AND h2) FROM flags)
SELECT expr,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       min(CASE WHEN hit THEN doc_id END) AS min_doc,
       max(CASE WHEN hit THEN doc_id END) AS max_doc,
       CAST(sum(CASE WHEN hit THEN doc_id ELSE 0 END) AS BIGINT)
         AS doc_id_checksum
FROM e GROUP BY 1
"""


#: NDCG discount table, the DP-ladder trick for transcendentals:
#: D[i] = floor(1e9 / log2(i + 1)) computed ONCE in Python and
#: embedded as integer literals in both engines — no engine ever
#: evaluates a log.  IDCG at binary relevance with >= K relevant
#: docs per label is the constant sum(D).
import math as _math

NDCG_K = 5
NDCG_D = [_math.floor(1e9 / _math.log2(i + 1)) for i in range(1, NDCG_K + 1)]
NDCG_IDEAL = sum(NDCG_D)


def ranking_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval-evaluation metrics — Precision@K, MRR, NDCG
    — for the certified exact cosine ranking against label ground
    truth, aggregated per query label.  The missing readout between
    the rankers (`cosine_topk_bruteforce`, `bm25_rational_topk`) and
    the recall contracts (`ann_recall_report` measures approximation
    vs exact; THIS measures ranking quality vs relevance).

    Exact integer contract everywhere a metric is usually float:
    reciprocal rank = 1e6 DIV rank; the NDCG log2 discounts are
    precomputed integer literals (see NDCG_D) with a constant ideal
    (every label has >= K same-label vectors, pinned in pytest); all
    means are floor-divided ppm.  Plan: the ranked list is the same
    broadcast-queries × corpus scan + per-query window the certified
    top-k carries; metrics are two small aggregates over K·queries
    rows."""
    from .similarity import cosine_topk_bruteforce

    from ..io import swap_cache

    ranked = cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    # persist the (vec_id, label) frame — both relevance sides
    # (query label, neighbor label) consume it (r14 scan sweep:
    # 4 embeddings scans; guide §2.4)
    lab = swap_cache(
        "retrieval.rankm_lab",
        table(spark, sf_dir, "embeddings").select("vec_id", "label"),
    )
    j = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("ql")
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nl"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "ql",
            "rank",
            (F.col("ql") == F.col("nl")).cast("long").alias("rel"),
        )
    )
    disc = F.element_at(
        F.array(*[F.lit(d).cast("long") for d in NDCG_D]), F.col("rank")
    )
    perq = j.groupBy("query_id", "ql").agg(
        F.sum("rel").cast("long").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
        F.sum(F.col("rel") * disc).cast("long").alias("dcg"),
    )
    perq = perq.select(
        "query_id",
        "ql",
        F.expr(f"1000000 * hits DIV {NDCG_K}").cast("long").alias("prec_ppm"),
        F.coalesce(
            F.expr("1000000 DIV first_rel"), F.lit(0).cast("long")
        ).alias("rr_ppm"),
        F.expr(f"1000000 * dcg DIV {NDCG_IDEAL}").cast("long").alias("ndcg_ppm"),
    )
    return (
        perq.groupBy(F.col("ql").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.expr("sum(prec_ppm) DIV count(*)")
            .cast("long")
            .alias("mean_precision_ppm"),
            F.expr("sum(rr_ppm) DIV count(*)").cast("long").alias("mrr_ppm"),
            F.expr("sum(ndcg_ppm) DIV count(*)")
            .cast("long")
            .alias("mean_ndcg_ppm"),
        )
    )


def _ranking_metrics_oracle() -> str:
    from .similarity import COSINE_TOPK_ORACLE

    d_list = ", ".join(str(d) for d in NDCG_D)
    return f"""
WITH topk AS ({COSINE_TOPK_ORACLE.strip()}),
lab AS (SELECT vec_id, label FROM embeddings),
j AS (
  SELECT t.query_id, lq.label AS ql, t.rank,
         CAST(lq.label = ln.label AS BIGINT) AS rel
  FROM topk t
  JOIN lab lq ON lq.vec_id = t.query_id
  JOIN lab ln ON ln.vec_id = t.neighbor_id),
perq AS (
  SELECT query_id, ql,
         CAST(sum(rel) AS BIGINT) AS hits,
         min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         CAST(sum(rel * ([{d_list}])[rank]) AS BIGINT) AS dcg
  FROM j GROUP BY 1, 2),
pm AS (
  SELECT query_id, ql,
         (1000000 * hits) // {NDCG_K} AS prec_ppm,
         coalesce(1000000 // first_rel, 0) AS rr_ppm,
         (1000000 * dcg) // {NDCG_IDEAL} AS ndcg_ppm
  FROM perq)
SELECT ql AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(prec_ppm) // count(*) AS BIGINT) AS mean_precision_ppm,
       CAST(sum(rr_ppm) // count(*) AS BIGINT) AS mrr_ppm,
       CAST(sum(ndcg_ppm) // count(*) AS BIGINT) AS mean_ndcg_ppm
FROM pm GROUP BY 1
"""


#: pseudo-relevance-feedback geometry: feedback depth, expansion
#: width, final ranking depth, and the stopword guard (an expansion
#: candidate must appear in fewer than PRF_DF_CAP_PCT% of documents)
PRF_FB = 3
PRF_EXP = 5
PRF_K = 10
PRF_DF_CAP_PCT = 20


def _bm25_scored_dyn(
    spark: SparkSession, sf_dir: str, terms: DataFrame
) -> DataFrame:
    """The rational-BM25 scorer of ``_bm25_scored`` over a DYNAMIC
    termset (broadcast semi-join in place of the literal ``isin`` —
    the shape a real per-request query binder uses; the arithmetic is
    character-identical)."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", ws_tokens("text").alias("toks")
    )
    docs = d.select("doc_id", "lang", F.size("toks").alias("dl"), "toks")
    totals = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("l_total"),
    )
    td = (
        docs.select("doc_id", "lang", "dl", F.explode("toks").alias("tok"))
        .join(F.broadcast(terms), "tok", "left_semi")
        .groupBy("tok", "doc_id", "lang", "dl")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_stats = td.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        td.join(F.broadcast(df_stats), "tok")
        .crossJoin(F.broadcast(totals))  # 1-row scalar totals, by design
        .withColumn(
            "r_ppm",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * dl * n_docs"
                " DIV CAST(l_total AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
        .withColumn(
            "score_ppm",
            F.expr(
                "CAST(CAST(1000000000000 AS DECIMAL(38,0))"
                " * (2 * n_docs - 2 * df + 1) * 22 * tf"
                " DIV (CAST(2 * df + 1 AS DECIMAL(38,0))"
                "      * (10000000 * tf + 3000000 + CAST(9 AS DECIMAL(38,0)) * r_ppm))"
                " AS BIGINT)"
            ),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("score_ppm").cast("long").alias("bm25_ppm"),
        F.count("*").cast("int").alias("n_terms_hit"),
    )


def query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM-style,
    the classic two-pass retrieval composition): run the certified
    rational BM25 for QUERY_TERMS, take the top PRF_FB feedback
    documents, mine their PRF_EXP strongest expansion terms (feedback
    term frequency desc, token asc; terms in ≥ PRF_DF_CAP_PCT% of
    the corpus are stopword-guarded out; originals excluded), then
    re-rank the corpus against the EXPANDED termset with the same
    scorer.  Deterministic end to end — term mining is integer
    counting, both passes are the certified rational-BM25 integer
    arithmetic.

    Output: the top PRF_K second-pass documents with rank, score,
    terms hit, and whether the doc was a feedback seed.

    Scale: pass 1 is the certified BM25 plan; term mining explodes
    ONLY the PRF_FB feedback documents plus one semi-joined df count
    for their vocabulary; pass 2 is the BM25 plan with a broadcast
    termset semi-join.  No stage materializes a global sort
    (tournament top-k throughout)."""
    from ..io import swap_cache

    seed = _bm25_scored(spark, sf_dir)
    order = [F.desc("bm25_ppm"), F.asc("doc_id")]
    fb = _tournament_topk(seed, order, PRF_FB, F.col("doc_id")).select(
        "doc_id"
    )
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "doc_id", ws_tokens("text").alias("toks")
    )
    docs = swap_cache(
        "retrieval.prf_docs",
        d.select("doc_id", F.explode("toks").alias("tok")),
    )
    n_docs = d.agg(F.count("*").cast("long").alias("n_docs"))
    fb = swap_cache("retrieval.prf_fb", fb)
    cand = (
        docs.join(F.broadcast(fb), "doc_id", "left_semi")
        .filter(~F.col("tok").isin(*QUERY_TERMS))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("fb_tf"))
    )
    cand = swap_cache("retrieval.prf_cand", cand)
    dfs = (
        docs.join(F.broadcast(cand.select("tok")), "tok", "left_semi")
        .select("tok", "doc_id")
        .distinct()
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("df"))
    )
    kept = (
        cand.join(dfs, "tok")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 100 < F.col("n_docs") * PRF_DF_CAP_PCT)
        .select("tok", "fb_tf")
    )
    exp = _tournament_topk(
        kept, [F.desc("fb_tf"), F.asc("tok")], PRF_EXP, F.col("tok")
    ).select("tok")
    terms2 = exp.unionByName(
        spark.createDataFrame([(t,) for t in QUERY_TERMS], "tok string")
    ).distinct()
    scored2 = _bm25_scored_dyn(spark, sf_dir, terms2)
    top = _tournament_topk(scored2, order, PRF_K, F.col("doc_id"))
    return top.join(
        fb.select(F.col("doc_id"), F.lit(1).alias("is_seed_doc")),
        "doc_id",
        "left",
    ).select(
        "rank",
        "doc_id",
        "lang",
        "bm25_ppm",
        "n_terms_hit",
        F.coalesce("is_seed_doc", F.lit(0)).cast("int").alias("is_seed_doc"),
    )


def _bm25_sql(sfx: str, term_pred: str) -> str:
    """The rational-BM25 oracle fragment with suffixed CTE names and a
    pluggable term predicate — lets the PRF oracle run the scorer
    twice (literal seed terms, then the derived expansion set) in one
    statement without CTE collisions."""
    return rf"""
docs{sfx} AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
sized{sfx} AS (
  SELECT doc_id, lang, len(toks) AS dl, toks FROM docs{sfx}),
totals{sfx} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS l_total
  FROM sized{sfx}),
td{sfx} AS (
  SELECT tok, doc_id, lang, dl, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, lang, dl, unnest(toks) AS tok FROM sized{sfx})
  WHERE {term_pred}
  GROUP BY 1, 2, 3, 4),
dfs{sfx} AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM td{sfx} GROUP BY 1),
scored{sfx} AS (
  SELECT td{sfx}.doc_id, td{sfx}.lang, td{sfx}.tf, dfs{sfx}.df,
         td{sfx}.dl, t.n_docs, t.l_total,
         CAST(CAST(1000000 AS HUGEINT) * td{sfx}.dl * t.n_docs
              // CAST(t.l_total AS HUGEINT) AS BIGINT) AS r_ppm
  FROM td{sfx} JOIN dfs{sfx} USING (tok) CROSS JOIN totals{sfx} t),
perdoc{sfx} AS (
  SELECT doc_id, lang,
         CAST(sum(CAST(CAST(1000000000000 AS HUGEINT)
                       * (2 * n_docs - 2 * df + 1) * 22 * tf
                       // (CAST(2 * df + 1 AS HUGEINT)
                           * (10000000 * tf + 3000000
                              + CAST(9 AS HUGEINT) * r_ppm))
                       AS BIGINT)) AS BIGINT) AS bm25_ppm,
         CAST(count(*) AS INT) AS n_terms_hit
  FROM scored{sfx} GROUP BY 1, 2)"""


PRF_ORACLE = f"""
WITH {_bm25_sql("1", f"tok IN ({_BM25_TERMS_SQL})")},
fb AS (
  SELECT doc_id FROM perdoc1 ORDER BY bm25_ppm DESC, doc_id LIMIT {PRF_FB}),
cand AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS fb_tf
  FROM (SELECT unnest(s.toks) AS tok
        FROM sized1 s JOIN fb USING (doc_id))
  WHERE tok NOT IN ({_BM25_TERMS_SQL})
  GROUP BY 1),
dfc AS (
  SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(toks) AS tok FROM sized1)
  WHERE tok IN (SELECT tok FROM cand)
  GROUP BY 1),
kept AS (
  SELECT c.tok, c.fb_tf
  FROM cand c JOIN dfc d USING (tok), totals1 n
  WHERE d.df * 100 < n.n_docs * {PRF_DF_CAP_PCT}),
exp AS (SELECT tok FROM kept ORDER BY fb_tf DESC, tok LIMIT {PRF_EXP}),
terms2 AS (
  SELECT tok FROM exp
  UNION
  SELECT unnest([{_BM25_TERMS_SQL}]) AS tok),
{_bm25_sql("2", "tok IN (SELECT tok FROM terms2)")}
SELECT CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
         AS rank,
       doc_id, lang, bm25_ppm, n_terms_hit,
       CAST(doc_id IN (SELECT doc_id FROM fb) AS INT) AS is_seed_doc
FROM perdoc2
QUALIFY rank <= {PRF_K}
"""


QUERIES = {
    "query_expansion_prf": query_expansion_prf,
    "ranking_metrics_report": ranking_metrics_report,
    "bm25_rational_topk": bm25_rational_topk,
    "rrf_hybrid_fusion": rrf_hybrid_fusion,
    "ranking_rbo_report": ranking_rbo_report,
    "boolean_retrieval_census": boolean_retrieval_census,
}

ORACLES = {
    "query_expansion_prf": PRF_ORACLE,
    "ranking_metrics_report": _ranking_metrics_oracle(),
    "bm25_rational_topk": BM25_ORACLE,
    "rrf_hybrid_fusion": RRF_ORACLE,
    "ranking_rbo_report": _rbo_oracle(),
    "boolean_retrieval_census": BOOLEAN_ORACLE,
}
