"""Embedding similarity search (SURVEY §2.13, M6).

Over `embeddings(vec_id, embedding array<float>, label)`:

* **brute-force cosine top-k** — the exactness baseline. The query
  set broadcasts onto the candidate scan (a broadcast nested-loop
  join), so the big side is read once with no shuffle; per-partition
  top-k then a single narrow global top-k per query.
* **IVF top-k** — the scale path: vectors are assigned to their
  nearest of C fixed centroids (one broadcast pass), queries probe
  only their own cluster (equi-join on cluster id = partition
  pruning). At 100 TB the cluster id becomes the storage partition
  key and a probe touches 1/C of the data.
* **sign-LSH near-dup** — random-hyperplane-style bucketing using the
  sign pattern of the leading dimensions as the bucket key; pairs are
  verified with exact cosine. Candidate generation is an equi-join on
  the bucket, never a cross product.

All dot products fold elementwise in float64; Spark's ``aggregate``
and DuckDB's ``list_dot_product`` are bit-identical on this path
(verified), so the oracles match without tolerance tricks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table
from ..session import tune


def _dvec(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


_DUCK_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)
_DUCK_DVEC = "list_transform({c}, x -> CAST(x AS DOUBLE))"


#: brute-force top-k depth — the ONE constant both the Spark plan and
#: COSINE_TOPK_ORACLE's generated SQL derive from (and that TRUNC_K
#: aliases), so a future edit cannot desynchronize plan and oracle
#: (round-8 advice)
COSINE_TOPK_K = 5


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector
    (vec_id % 50 == 0), excluding self."""
    e = table(tune(spark), sf_dir, "embeddings")
    base = e.select("vec_id", _dvec("embedding").alias("v"))
    q = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qv"), F.col("v")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= COSINE_TOPK_K)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


_COS_AB = _DUCK_COS.format(a="q.qv", b="c.v")
COSINE_TOPK_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_DUCK_DVEC.format(c='embedding')} AS v FROM embeddings),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_COS_AB} AS sim
  FROM q JOIN base c ON c.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= {COSINE_TOPK_K}
"""



def ivf_assignments(base: DataFrame, cents: DataFrame) -> DataFrame:
    """The IVF index rows of ``base`` (needs ``vec_id``, ``v``) against
    fixed centroids ``cents`` (``cent_id``, ``cv``): one broadcast
    pass, argmin-by-cosine per vector with a deterministic tie-break
    on centroid id → ``(vec_id, v, cluster)``.

    Row-local given the broadcast centroids, so the same code path
    serves the one-shot build (:func:`ann_ivf_topk`) and incremental
    maintenance (:func:`upsert_ivf_index`)."""
    return (
        base.join(F.broadcast(cents))
        .select("vec_id", "v", "cent_id", cosine(F.col("v"), F.col("cv")).alias("csim"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("cent_id").alias("cluster"))
    )


def upsert_ivf_index(
    index: DataFrame, new_vecs: DataFrame, cents: DataFrame
) -> DataFrame:
    """Incrementally maintain an IVF assignment index: drop the rows
    of re-ingested vec_ids, append the new vectors' assignments
    against the SAME fixed centroids.

    The embedding-family mirror of ``dedup.upsert_band_index``: the
    delta assigns row-locally against the broadcast centroids (never
    a corpus re-pass), the anti-join probes the index on vec_id, and
    the union preserves the ``(vec_id, v, cluster)`` schema.  Exact
    because assignment is per-row given fixed centroids — contract
    (tested): ``upsert(index(C), Δ) ≡ index(C ∪ Δ)`` row-set exact,
    including vec re-ingestion with a changed embedding (which may
    move it to a different cluster).  Centroid refreshes are a
    separate, rarer event: re-running :func:`ivf_assignments` over
    the corpus — the same split a production IVF serving layer makes."""
    keep = index.join(
        new_vecs.select("vec_id").distinct(), "vec_id", "left_anti"
    )
    return keep.unionByName(ivf_assignments(new_vecs, cents))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest fixed
    centroid (vec_id % 100 == 0), then answer each query (vec_id %
    50 == 0) from its own cluster only — top-3 by cosine."""
    e = table(tune(spark), sf_dir, "embeddings")
    base = e.select("vec_id", _dvec("embedding").alias("v"))
    cents = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    assigned = ivf_assignments(base, cents)
    # the assignment table IS the IVF index — persist it for the
    # invocation (io.swap_cache); probed twice (query side + candidate
    # side), un-persisted each probe re-ran the centroid argmin pass
    from ..io import swap_cache

    assigned = swap_cache("similarity.ivf", assigned)
    q = assigned.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cluster").alias("qcluster"),
    )
    cand = assigned.join(
        F.broadcast(q),
        (F.col("cluster") == F.col("qcluster")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cosine("qv", F.col("v")).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"), "rank")
    )


ANN_IVF_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_DUCK_DVEC.format(c='embedding')} AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cent_id, v AS cv FROM base WHERE vec_id % 100 = 0),
assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT b.vec_id, b.v, c.cent_id AS cluster,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY {_DUCK_COS.format(a='b.v', b='c.cv')} DESC,
                                       c.cent_id ASC) AS rn
    FROM base b CROSS JOIN cents c)
  WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, v AS qv, cluster AS qcluster
  FROM assigned WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         {_DUCK_COS.format(a='q.qv', b='a.v')} AS sim
  FROM q JOIN assigned a
    ON a.cluster = q.qcluster AND a.vec_id != q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(sim, 6) AS sim, rank
FROM ranked WHERE rank <= 3
"""


#: ivf-upsert-equivalence split, mirroring
#: indexing.postings_upsert_equivalence: vec_id % 10 == 0 arrive as
#: brand-new vectors; corpus vectors with vec_id % 7 == 1 are
#: re-ingested with a CHANGED embedding (negated — cosine flips sign,
#: so the vector typically moves cluster and a stale row would be
#: caught by the anti-joins)
_IVF_DELTA_MOD = 10
_IVF_REINGEST_MOD = 7


def ivf_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certifiable contract over :func:`upsert_ivf_index`
    (round-7 verdict item 4 — the one member of the incremental-index
    family whose ``upsert ≡ rebuild`` contract was pytest-only):
    ``upsert(index(C), Δ) ≡ index(C ∪ Δ)`` against the SAME fixed
    centroids, where Δ holds both brand-new vectors and re-ingested
    vectors with a changed (negated) embedding.  One summary row —
    (n_index_rows, n_only_upsert, n_only_rebuild,
    upsert_equals_rebuild) — with the anti-joins keyed on (vec_id,
    cluster, v), so an upsert that leaks a stale assignment OR a
    stale payload fails the hash compare.  Payload floats are
    bit-equal by construction: both sides derive ``v`` through the
    identical expression over the same parquet values.

    Scale shape: the delta assigns row-locally against the broadcast
    centroids; the anti-joins are vec_id-hash shuffles over index
    rows — nothing corpus-pairwise.  Same one-row-contract shape as
    ``postings_upsert_equivalence``."""
    from ..io import fan_out, swap_cache

    e = fan_out(table(tune(spark), sf_dir, "embeddings"))
    # persist the decoded base FIRST: centroids, corpus, both delta
    # branches, and the rebuild side all derive from it —
    # unpersisted, the plan re-reads embeddings NINE times per
    # invocation (caught by the order-independent scan gate, round
    # 8); persisted, one physical scan feeds everything
    base = swap_cache(
        "similarity.ivf_upsert.base",
        e.select("vec_id", _dvec("embedding").alias("v")),
    )
    # fixed centroid artifact: original (un-mutated) vectors — the
    # centroid refresh is deliberately a separate, rarer event
    cents = base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    is_new = F.col("vec_id") % _IVF_DELTA_MOD == 0
    is_reingest = (~is_new) & (F.col("vec_id") % _IVF_REINGEST_MOD == 1)
    negated = F.transform("v", lambda x: -x)
    corpus = base.filter(~is_new)
    delta = base.filter(is_new).unionByName(
        base.filter(is_reingest).withColumn("v", negated)
    )
    upserted = upsert_ivf_index(ivf_assignments(corpus, cents), delta, cents)
    rebuilt = ivf_assignments(
        base.withColumn("v", F.when(is_reingest, negated).otherwise(F.col("v"))),
        cents,
    )
    # ONE full-outer join on the contract key yields all three counts
    # in a single action (round 9: the previous two-anti-joins +
    # count + crossJoin shape ran 3 jobs with both sides persisted —
    # 2.5s → ~1.2s at sf0.1, index is action-overhead-bound at
    # fixture scale; values and oracle unchanged)
    keys = ["vec_id", "cluster", "v"]
    u = upserted.select(*keys).withColumn("in_u", F.lit(1))
    r = rebuilt.select(*keys).withColumn("in_r", F.lit(1))
    return (
        u.join(r, keys, "full_outer")
        .agg(
            F.sum(F.coalesce("in_u", F.lit(0)))
            .cast("long")
            .alias("n_index_rows"),
            F.sum(
                (F.col("in_u").isNotNull() & F.col("in_r").isNull()).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_only_upsert"),
            F.sum(
                (F.col("in_r").isNotNull() & F.col("in_u").isNull()).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_only_rebuild"),
        )
        .select(
            "n_index_rows",
            "n_only_upsert",
            "n_only_rebuild",
            (
                (F.col("n_only_upsert") == 0)
                & (F.col("n_only_rebuild") == 0)
            )
            .cast("int")
            .alias("upsert_equals_rebuild"),
        )
    )


#: the oracle pins the anti-join counts to zero and derives
#: n_index_rows independently (one assignment row per vector), so a
#: leaking/dropping upsert fails the value-hash compare
IVF_UPSERT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_index_rows,
       CAST(0 AS BIGINT) AS n_only_upsert,
       CAST(0 AS BIGINT) AS n_only_rebuild,
       1 AS upsert_equals_rebuild
FROM embeddings
"""


#: truncation dims evaluated against the full 64-dim exact top-k
#: (powers of two, the deploy ladder a Matryoshka-style index offers)
TRUNC_DIMS = (8, 16, 32)
#: overlap@k depth — aliases the brute-force k so the truth set the
#: oracle derives from COSINE_TOPK_ORACLE can never desynchronize
#: from the Spark plan's TRUNC_K (round-8 advice)
TRUNC_K = COSINE_TOPK_K


def truncation_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation deploy table (Matryoshka-style, Kusupati
    et al. 2022, arXiv:2205.13147): for each prefix dimensionality in
    ``TRUNC_DIMS``, the overlap@``TRUNC_K`` between the truncated-
    cosine top-k and the full-dim exact top-k, in exact ppm — the
    decision artifact for serving shorter vectors (a 16-of-64 prefix
    cuts index memory 4× and this table says what that costs in
    recall, the same role ``ann_recall_report`` plays for the
    cluster-pruned methods).

    One declarative plan, no driver loop: a 3-row broadcast dims
    table crosses the vector base, prefixes slice row-locally, and
    ranking windows partition by (trunc_dim, query_id) — identical
    tie-break (sim DESC, neighbor_id ASC) to the certified brute
    force so the comparison is apples-to-apples.  Scale shape: the
    candidate join is the same broadcast-query-set shape as
    ``cosine_topk_bruteforce``; everything downstream of scoring is
    probe-sized.  Floats never surface — only intersection counts.

    The truth set is the FULL dimensionality evaluated through the
    same plan (trunc_dim = 64: ``slice(v, 1, 64)`` IS ``v``, and the
    ranking/tie-break matches the brute force), so ONE persisted base
    scan feeds every dimension and the truth — unpersisted, with a
    separate brute-force call, the plan re-read embeddings six times
    (caught by the order-independent scan gate, round 8).

    Prefix-dot factorization (round 9, −40% measured at sf0.1 with
    outputs bit-identical): the pair join runs ONCE (not once per
    dimension) — each pair materializes the elementwise products
    array a single time and every prefix dot is a sequential fold
    over ``slice(products, 1, d)``, which performs EXACTLY the same
    multiply-then-fold operation sequence as the per-dim
    ``cosine(slice(q), slice(v))`` did (bit-identical sims, pinned by
    the unchanged oracle); per-VECTOR prefix norms move out of the
    pair loop into the persisted base scan (N rows, not N²/50
    pairs)."""
    from ..io import swap_cache

    e = table(tune(spark), sf_dir, "embeddings")
    full_dim = 64
    all_dims = (*TRUNC_DIMS, full_dim)
    base = swap_cache(
        "similarity.trunc.base",
        e.select("vec_id", _dvec("embedding").alias("v")).select(
            "vec_id",
            "v",
            *[
                F.expr(
                    f"sqrt(aggregate(slice(transform(v, x -> x * x), 1, {d}),"
                    f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))"
                ).alias(f"nrm_{d}")
                for d in all_dims
            ],
        ),
    )
    q = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        *[F.col(f"nrm_{d}").alias(f"qnrm_{d}") for d in all_dims],
    )
    pairs = base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    prods = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr("zip_with(qv, v, (x, y) -> x * y)").alias("p"),
        *[F.col(f"nrm_{d}") for d in all_dims],
        *[F.col(f"qnrm_{d}") for d in all_dims],
    )
    sims = prods.select(
        "query_id",
        "neighbor_id",
        F.expr(
            "stack("
            + str(len(all_dims))
            + ", "
            + ", ".join(
                f"{d}, aggregate(slice(p, 1, {d}), CAST(0.0 AS DOUBLE),"
                f" (acc, x) -> acc + x) / (qnrm_{d} * nrm_{d})"
                for d in all_dims
            )
            + ") AS (trunc_dim, sim)"
        ),
    )
    w = Window.partitionBy("trunc_dim", "query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    topk = (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TRUNC_K)
        .select("trunc_dim", "query_id", "neighbor_id")
    )
    # two consumers of one probe-sized frame: the truncated sides
    # and the dim-64 truth side
    topk = swap_cache("similarity.trunc.topk", topk)
    truth = topk.filter(F.col("trunc_dim") == full_dim).select(
        "query_id", "neighbor_id"
    )
    nq = truth.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries")
    )
    return (
        topk.filter(F.col("trunc_dim") != full_dim)
        .join(truth, ["query_id", "neighbor_id"])
        .groupBy("trunc_dim")
        .agg(F.count("*").cast("long").alias("hits"))
        .crossJoin(F.broadcast(nq))
        .select(
            "trunc_dim",
            "n_queries",
            "hits",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * hits"
                f" DIV ({TRUNC_K} * n_queries) AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


def _truncation_oracle() -> str:
    dims_values = ", ".join(f"({d})" for d in TRUNC_DIMS)
    return f"""
WITH base AS (
  SELECT vec_id, {_DUCK_DVEC.format(c='embedding')} AS v FROM embeddings),
dims(trunc_dim) AS (VALUES {dims_values}),
tb AS (
  SELECT vec_id, trunc_dim, v[1:trunc_dim] AS tv FROM base CROSS JOIN dims),
q AS (
  SELECT vec_id AS query_id, trunc_dim AS q_dim, tv AS qv
  FROM tb WHERE vec_id % 50 = 0),
topk AS (
  SELECT * FROM (
    SELECT t.trunc_dim, q.query_id, t.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY t.trunc_dim, q.query_id
             ORDER BY {_DUCK_COS.format(a='q.qv', b='t.tv')} DESC,
                      t.vec_id ASC) AS rank
    FROM q JOIN tb t
      ON t.trunc_dim = q.q_dim AND t.vec_id != q.query_id)
  WHERE rank <= {TRUNC_K}),
truth AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_ORACLE})),
nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries FROM truth)
SELECT k.trunc_dim,
       nq.n_queries,
       CAST(count(*) AS BIGINT) AS hits,
       CAST(CAST(1000000 AS HUGEINT) * count(*)
            // ({TRUNC_K} * nq.n_queries) AS BIGINT) AS overlap_ppm
FROM topk k JOIN truth USING (query_id, neighbor_id), nq
GROUP BY 1, 2
"""


TRUNCATION_RECALL_ORACLE = _truncation_oracle()


#: margin-mining knobs: neighborhood size for the margin denominator
#: and the keep threshold (1.05 — the CCMatrix-style default)
MARGIN_K = 4
MARGIN_KEEP_PPM = 1_050_000


def margin_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    arXiv:1811.01136 — the scoring rule behind LASER/CCMatrix bitext
    mining): for each source vector, its best candidate on the other
    side scored by the RATIO margin — cosine normalized by the mean
    of both endpoints' k-NN neighborhoods — which suppresses hubs
    that plain cosine top-1 mis-mates.  Sides are the deterministic
    vec_id parity halves (mod-4 classes 0 and 1 — a bounded stand-in
    for the two languages of a real mining run).

    INTEGER-EXACT margin: raw cosines land on the 1e-6 grid first
    (``floor(sim·1e6)``), so the k-NN sums and the final
    ``margin_ppm = 1e6 · 2K·s / (Σtop-K(a) + Σtop-K(b))`` are pure
    BIGINT arithmetic — no float summation-order or half-boundary
    surface anywhere (the README quotient rule; an ``avg()`` of
    doubles would be summation-order-dependent cross-engine).

    Scale shape: the scored bipartite frame persists once
    (``swap_cache``) and feeds all three consumers (source-side k-NN
    sums, candidate-side k-NN sums, the margin join) — at 100 TB the
    exact bipartite product is replaced by IVF/LSH blocking exactly
    as CCMatrix does; the margin algebra downstream is unchanged, so
    this certified formulation IS the scale path's scoring stage."""
    from ..io import swap_cache

    e = table(tune(spark), sf_dir, "embeddings")
    base = swap_cache(
        "similarity.margin.base",
        e.filter(F.col("vec_id") % 4 <= 1).select(
            "vec_id",
            (F.col("vec_id") % 4).alias("side"),
            _dvec("embedding").alias("v"),
        ),
    )
    a = base.filter(F.col("side") == 0).select(
        F.col("vec_id").alias("src_id"), F.col("v").alias("av")
    )
    b = base.filter(F.col("side") == 1).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("bv")
    )
    scored = swap_cache(
        "similarity.margin.scored",
        a.join(F.broadcast(b)).select(
            "src_id",
            "cand_id",
            F.floor(cosine(F.col("av"), F.col("bv")) * 1e6)
            .cast("long")
            .alias("s6"),
        ),
    )
    return _margin_rank_rows(scored)


def _margin_rank_rows(scored: DataFrame) -> DataFrame:
    """Shared margin-scoring tail: ``scored`` holds (src_id, cand_id,
    s6) — exhaustive bipartite (:func:`margin_bitext_mine`) or
    bucket-blocked (:func:`margin_bitext_mine_blocked`); the margin
    algebra downstream is identical, only the candidate set
    differs."""
    wa = Window.partitionBy("src_id").orderBy(F.desc("s6"), F.asc("cand_id"))
    knn_a = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= MARGIN_K)
        .groupBy("src_id")
        .agg(F.sum("s6").cast("long").alias("ksum_a"))
    )
    wb = Window.partitionBy("cand_id").orderBy(F.desc("s6"), F.asc("src_id"))
    knn_b = (
        scored.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= MARGIN_K)
        .groupBy("cand_id")
        .agg(F.sum("s6").cast("long").alias("ksum_b"))
    )
    margins = (
        scored.join(knn_a, "src_id")
        .join(knn_b, "cand_id")
        .select(
            "src_id",
            "cand_id",
            "s6",
            F.expr(
                f"CAST(1000000 * ({2 * MARGIN_K} * s6)"
                " DIV (ksum_a + ksum_b) AS BIGINT)"
            ).alias("margin_ppm"),
        )
    )
    wm = Window.partitionBy("src_id").orderBy(
        F.desc("margin_ppm"), F.asc("cand_id")
    )
    return (
        margins.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select(
            "src_id",
            F.col("cand_id").alias("matched_id"),
            F.col("s6").alias("sim_e6"),
            "margin_ppm",
            (F.col("margin_ppm") >= MARGIN_KEEP_PPM).alias("keep"),
        )
    )


def margin_bitext_mine_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE PATH of :func:`margin_bitext_mine`: candidates come
    from a sign-LSH bucket equi-join (the 8-bit sign pattern both the
    batch near-dup and the streaming embed gate already block on)
    instead of the exhaustive bipartite product, and the k-NN margin
    denominators aggregate over the blocked candidate set only —
    exactly how CCMatrix-style mining swaps exact k-NN for FAISS
    candidates, except this blocking is DETERMINISTIC, so the whole
    operator stays hash-certifiable against the DuckDB oracle rather
    than rows-only.  Sources whose bucket holds no cross-side
    candidate drop out (they'd have no mate under this index).

    Scale shape: one hash shuffle on the bucket key replaces the
    O(|A|·|B|) product — candidate volume is Σ_bucket |A_b|·|B_b|,
    and a hot bucket is an AQE skew-split, not a task killer.  The
    margin algebra downstream is byte-identical to the exact
    operator (:func:`_margin_rank_rows`), so the exact/blocked pair
    quantifies precisely what the blocking costs in match quality."""
    from ..io import swap_cache

    e = table(tune(spark), sf_dir, "embeddings")
    base = swap_cache(
        "similarity.margin_blk.base",
        e.filter(F.col("vec_id") % 4 <= 1).select(
            "vec_id",
            (F.col("vec_id") % 4).alias("side"),
            _sign_bucket_col().alias("bucket"),
            _dvec("embedding").alias("v"),
        ),
    )
    a = base.filter(F.col("side") == 0).select(
        F.col("vec_id").alias("src_id"), "bucket", F.col("v").alias("av")
    )
    b = base.filter(F.col("side") == 1).select(
        F.col("vec_id").alias("cand_id"), "bucket", F.col("v").alias("bv")
    )
    scored = swap_cache(
        "similarity.margin_blk.scored",
        a.join(b, "bucket").select(
            "src_id",
            "cand_id",
            F.floor(cosine(F.col("av"), F.col("bv")) * 1e6)
            .cast("long")
            .alias("s6"),
        ),
    )
    return _margin_rank_rows(scored)


_DUCK_SIGN_BUCKET = (
    "list_reduce(list_transform(v[1:8],"
    " x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), (a, x) -> a || x)"
)

MARGIN_BITEXT_BLOCKED_ORACLE = f"""
WITH base AS (
  SELECT vec_id, vec_id % 4 AS side,
         {_DUCK_DVEC.format(c='embedding')} AS v
  FROM embeddings WHERE vec_id % 4 <= 1),
sided AS (
  SELECT vec_id, side, v, {_DUCK_SIGN_BUCKET} AS bucket FROM base),
a AS (SELECT vec_id AS src_id, bucket, v AS av FROM sided WHERE side = 0),
b AS (SELECT vec_id AS cand_id, bucket, v AS bv FROM sided WHERE side = 1),
scored AS (
  SELECT src_id, cand_id,
         CAST(floor({_DUCK_COS.format(a='av', b='bv')} * 1e6) AS BIGINT) AS s6
  FROM a JOIN b USING (bucket)),
knn_a AS (
  SELECT src_id, CAST(sum(s6) AS BIGINT) AS ksum_a FROM (
    SELECT src_id, s6,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY s6 DESC, cand_id ASC) AS rn
    FROM scored) WHERE rn <= {MARGIN_K} GROUP BY 1),
knn_b AS (
  SELECT cand_id, CAST(sum(s6) AS BIGINT) AS ksum_b FROM (
    SELECT cand_id, s6,
           row_number() OVER (PARTITION BY cand_id
                              ORDER BY s6 DESC, src_id ASC) AS rn
    FROM scored) WHERE rn <= {MARGIN_K} GROUP BY 1),
margins AS (
  SELECT s.src_id, s.cand_id, s.s6,
         CAST((1000000 * ({2 * MARGIN_K} * s.s6))
              // (ka.ksum_a + kb.ksum_b) AS BIGINT) AS margin_ppm
  FROM scored s JOIN knn_a ka USING (src_id) JOIN knn_b kb USING (cand_id))
SELECT src_id, cand_id AS matched_id, s6 AS sim_e6, margin_ppm,
       margin_ppm >= {MARGIN_KEEP_PPM} AS keep
FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin_ppm DESC, cand_id ASC) AS rn
      FROM margins)
WHERE rn = 1
"""


MARGIN_BITEXT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, vec_id % 4 AS side,
         {_DUCK_DVEC.format(c='embedding')} AS v
  FROM embeddings WHERE vec_id % 4 <= 1),
a AS (SELECT vec_id AS src_id, v AS av FROM base WHERE side = 0),
b AS (SELECT vec_id AS cand_id, v AS bv FROM base WHERE side = 1),
scored AS (
  SELECT src_id, cand_id,
         CAST(floor({_DUCK_COS.format(a='av', b='bv')} * 1e6) AS BIGINT) AS s6
  FROM a CROSS JOIN b),
knn_a AS (
  SELECT src_id, CAST(sum(s6) AS BIGINT) AS ksum_a FROM (
    SELECT src_id, s6,
           row_number() OVER (PARTITION BY src_id
                              ORDER BY s6 DESC, cand_id ASC) AS rn
    FROM scored) WHERE rn <= {MARGIN_K} GROUP BY 1),
knn_b AS (
  SELECT cand_id, CAST(sum(s6) AS BIGINT) AS ksum_b FROM (
    SELECT cand_id, s6,
           row_number() OVER (PARTITION BY cand_id
                              ORDER BY s6 DESC, src_id ASC) AS rn
    FROM scored) WHERE rn <= {MARGIN_K} GROUP BY 1),
margins AS (
  SELECT s.src_id, s.cand_id, s.s6,
         CAST((1000000 * ({2 * MARGIN_K} * s.s6))
              // (ka.ksum_a + kb.ksum_b) AS BIGINT) AS margin_ppm
  FROM scored s JOIN knn_a ka USING (src_id) JOIN knn_b kb USING (cand_id))
SELECT src_id, cand_id AS matched_id, s6 AS sim_e6, margin_ppm,
       margin_ppm >= {MARGIN_KEEP_PPM} AS keep
FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY margin_ppm DESC, cand_id ASC) AS rn
      FROM margins)
WHERE rn = 1
"""


def _sign_bucket_col() -> Column:
    """Sign pattern of the first 8 dimensions as a '01100101' string —
    the blocking key shared by ``embedding_near_dup`` and the
    streaming sign-index gate (one definition so the batch oracle and
    the incremental index can never drift)."""
    v = _dvec("embedding")
    return F.concat_ws(
        "",
        *[
            (F.element_at(v, i + 1) >= 0).cast("int").cast("string")
            for i in range(8)
        ],
    )


def sign_bucket_rows(vecs: DataFrame) -> DataFrame:
    """Sign-LSH index rows of ``vecs`` (needs ``vec_id``,
    ``embedding``): ``(vec_id, bucket, v)`` — bucket is the 8-bit sign
    pattern, ``v`` the double-cast payload a candidate probe verifies
    exact cosine against.  A payload-bearing index, like an IVF list:
    at 100 TB it lives bucketed on ``bucket``, and the probe's hash
    join moves each batch's payload across the wire once."""
    return vecs.select(
        "vec_id",
        _sign_bucket_col().alias("bucket"),
        _dvec("embedding").alias("v"),
    )


def upsert_sign_index(
    index: DataFrame,
    new_vecs: DataFrame,
    *,
    new_rows: DataFrame | None = None,
) -> DataFrame:
    """Incrementally maintain the sign-LSH index: drop re-ingested
    vec_ids, append the delta's freshly bucketed rows — the
    embedding-payload mirror of ``dedup.upsert_band_index`` (same
    anti-join + union algebra; ``new_rows`` lets a streaming
    micro-batch that already bucketed itself skip recomputing)."""
    if new_rows is None:
        new_rows = sign_bucket_rows(new_vecs)
    keep = index.join(
        new_vecs.select("vec_id").distinct(), "vec_id", "left_anti"
    )
    return keep.unionByName(new_rows).select(*index.columns)


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH blocked near-dup: bucket on the sign pattern of the
    first 8 dimensions, verify candidates with exact cosine ≥ 0.15.

    Pair generation is bucket-grouped (one hash shuffle on the sign
    bucket, within-bucket pairs explode locally) rather than a
    self-join — the join shape executes the scan+bucket lineage on
    both sides and moves the vector payload through the wire twice
    (same finding as the text-LSH pair generator, `dedup.
    lsh_candidate_pairs`).  Scale note: 8 sign bits give a FIXED 256
    blocks, so block size grows linearly with the corpus either way —
    at real scale you widen the sign pattern (more bits ⇒
    finer blocks), which changes recall and therefore the published
    contract; the fixture keeps 8 for oracle parity."""
    e = table(tune(spark), sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        _dvec("embedding").alias("v"),
        _sign_bucket_col().alias("bucket"),
    )
    buckets = base.groupBy("bucket").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("members")
    )
    m = buckets.filter(F.size("members") >= 2).select(
        F.explode("members").alias("a"), "members"
    )
    pairs = m.select("a", F.explode("members").alias("b")).filter(
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    sim = cosine(F.col("a.v"), F.col("b.v"))
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(sim, 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.15)
    )


NEAR_DUP_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_DUCK_DVEC.format(c='embedding')} AS v,
         list_reduce(list_transform(v[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                     (a, x) -> a || x) AS bucket
  FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_DUCK_COS.format(a='a.v', b='b.v')}, 6) AS sim
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({_DUCK_COS.format(a='a.v', b='b.v')}, 6) >= 0.15
"""


#: semantic-split geometry: 10 hash buckets, bucket 0 = eval (the
#: corpus_split 90/10 rule applied to vec ids, distinct salt)
SEM_SPLIT_MOD = 10
SEM_SPLIT_SALT = "semsplit|"


def semantic_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level split-leakage audit — the SEMANTIC companion
    to the token-level `quality.contamination_check` and the
    component-level `graph.split_decontaminate`: after a
    deterministic 90/10 train/eval hash split of the vector ids, an
    eval vector is LEAKY if it has ANY train-side near-duplicate in
    the certified sign-LSH pair set — the check an eval-set release
    runs so benchmark numbers aren't inflated by paraphrase-level
    overlap that n-gram contamination scans cannot see (the gap
    SemDeDup/semantic-dedup papers document for web corpora).

    One row: train/eval sizes, cross-split near-dup pair count,
    distinct leaky eval vectors, and the leak rate in exact ppm.

    Scale shape: the pair set is the bucket-grouped sign-LSH join
    (never all-pairs); the split column derives row-locally from the
    id hash; everything after the pair set is pair-sized."""
    from ..io import swap_cache
    from .corpusops import _hash_bucket

    e = table(tune(spark), sf_dir, "embeddings")
    # persist the (vec_id, is_eval) split — three consumers (both
    # pair-annotation sides and the size counts) otherwise re-scan
    # embeddings each (r14 scan sweep: 7 embeddings scans here;
    # guide §2.4)
    split = swap_cache(
        "similarity.semcon_split",
        e.select(
            "vec_id",
            (
                _hash_bucket(F.col("vec_id"), SEM_SPLIT_SALT, SEM_SPLIT_MOD)
                == 0
            )
            .cast("int")
            .alias("is_eval"),
        ),
    )
    pairs = embedding_near_dup(spark, sf_dir).select("vec_a", "vec_b")
    a = split.select(
        F.col("vec_id").alias("vec_a"), F.col("is_eval").alias("ev_a")
    )
    b = split.select(
        F.col("vec_id").alias("vec_b"), F.col("is_eval").alias("ev_b")
    )
    # persist the annotated cross-split pair set (pair-sized): its
    # two consumers (the pair count and the leaky-eval distinct)
    # otherwise re-run the whole sign-LSH pair pipeline each
    cross = swap_cache(
        "similarity.semcon_cross",
        pairs.join(a, "vec_a")
        .join(b, "vec_b")
        .filter(F.col("ev_a") != F.col("ev_b")),
    )
    leaky = cross.select(
        F.when(F.col("ev_a") == 1, F.col("vec_a"))
        .otherwise(F.col("vec_b"))
        .alias("eval_id")
    ).distinct()
    counts = split.agg(
        F.sum((F.col("is_eval") == 0).cast("long"))
        .cast("long")
        .alias("n_train"),
        F.sum("is_eval").cast("long").alias("n_eval"),
    )
    return (
        counts.crossJoin(
            cross.agg(F.count("*").cast("long").alias("n_cross_pairs"))
        )
        .crossJoin(
            leaky.agg(F.count("*").cast("long").alias("n_leaky_eval"))
        )
        .select(
            "n_train",
            "n_eval",
            "n_cross_pairs",
            "n_leaky_eval",
            F.expr("1000000 * n_leaky_eval DIV n_eval")
            .cast("long")
            .alias("leak_ppm"),
        )
    )


def _sem_contamination_oracle() -> str:
    from .corpusops import _hash_bucket_sql

    ev = (
        f"CASE WHEN ({_hash_bucket_sql('CAST(vec_id AS VARCHAR)', SEM_SPLIT_SALT, SEM_SPLIT_MOD)}) = 0"
        " THEN 1 ELSE 0 END"
    )
    return f"""
WITH split AS MATERIALIZED (
  SELECT vec_id, {ev} AS is_eval FROM embeddings),
pairs AS MATERIALIZED (
  SELECT vec_a, vec_b FROM ({NEAR_DUP_ORACLE.strip()})),
cross_p AS MATERIALIZED (
  SELECT p.vec_a, p.vec_b, a.is_eval AS ev_a, b.is_eval AS ev_b
  FROM pairs p
  JOIN split a ON p.vec_a = a.vec_id
  JOIN split b ON p.vec_b = b.vec_id
  WHERE a.is_eval != b.is_eval),
leaky AS (
  SELECT DISTINCT CASE WHEN ev_a = 1 THEN vec_a ELSE vec_b END AS eval_id
  FROM cross_p),
c AS (
  SELECT CAST(sum(CASE WHEN is_eval = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(sum(is_eval) AS BIGINT) AS n_eval
  FROM split)
SELECT c.n_train, c.n_eval,
       CAST((SELECT count(*) FROM cross_p) AS BIGINT) AS n_cross_pairs,
       CAST((SELECT count(*) FROM leaky) AS BIGINT) AS n_leaky_eval,
       CAST(1000000 * (SELECT count(*) FROM leaky) // c.n_eval AS BIGINT)
         AS leak_ppm
FROM c
"""


SEM_CONTAMINATION_ORACLE = _sem_contamination_oracle()


#: squared-euclidean cutoff of the BRP containment contract — kept a
#: safe margin below the ML join's distance cutoff (1.2² = 1.44 vs
#: 1.35) so no certified pair sits on a double-rounding boundary of
#: the ML side's sqrt.  The fixture's closest same-bucket pairs start
#: at sq ≈ 1.14, so 1.44 certifies a real (non-vacuous) set at every
#: SF while staying in the near-neighbor regime.
_BRP_CONTAIN_SQ = 1.44
_BRP_ML_CUTOFF = 1.35


def brp_lsh_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall contract for Spark ML's BucketedRandomProjectionLSH
    (JVM-seeded projections, not oracle-reproducible themselves):
    every certified near pair — same 8-bit sign bucket (the
    ``embedding_near_dup`` blocking) with exact squared euclidean
    distance ≤ 1.44 (``_BRP_CONTAIN_SQ``, i.e. distance ≤ 1.2,
    safely inside the ML join's 1.35 cutoff) — must appear in the
    BucketedRandomProjectionLSH
    candidate set.  One summary row (n_certified, n_missing,
    all_contained); the oracle pins n_missing = 0, turning the
    built-in path's recall into a hash-compared contract instead of a
    rows-only check.

    The exact side folds (a_i−b_i)² left-to-right in float64 —
    bit-identical between Spark's ``aggregate`` and DuckDB's
    ``list_reduce`` (the NEAR_DUP_ORACLE precedent) — so the certified
    set needs no rounding tolerance.  The ML side runs 12 hash tables
    at cutoff 1.35: containment needs a superset, and at d/L = 0.6 a single table
    misses ~43% of true pairs — 12 tables push the per-pair miss to
    ~4e-5."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from ..io import fan_out, swap_cache

    # fan_out: the per-pair distance work downstream is CPU-bound and
    # a small fixture scans as 1-2 splits — without the spread the ML
    # join's heavy stages inherit that width
    e = fan_out(table(tune(spark), sf_dir, "embeddings"))
    v = _dvec("embedding")
    bucket = F.concat_ws(
        "",
        *[(F.element_at(v, i + 1) >= 0).cast("int").cast("string") for i in range(8)],
    )
    base = swap_cache(
        "similarity.brp_containment",
        e.select("vec_id", v.alias("v"), bucket.alias("bucket")),
    )
    buckets = base.groupBy("bucket").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("members")
    )
    m = buckets.filter(F.size("members") >= 2).select(
        F.explode("members").alias("a"), "members"
    )
    sqd = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cert = (
        m.select("a", F.explode("members").alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(sqd <= _BRP_CONTAIN_SQ)
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )
    cert = swap_cache("similarity.brp_containment_cert", cert)
    feats = base.select("vec_id", array_to_vector("v").alias("features"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=12,
        seed=42,
    )
    joined = lsh.fit(feats).approxSimilarityJoin(
        feats, feats, _BRP_ML_CUTOFF, distCol="dist"
    )
    ml = joined.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("vec_a"),
        F.col("datasetB.vec_id").alias("vec_b"),
    )
    n_cert = cert.agg(F.count("*").cast("long").alias("n_certified"))
    n_miss = cert.join(ml, ["vec_a", "vec_b"], "left_anti").agg(
        F.count("*").cast("long").alias("n_missing")
    )
    return n_cert.crossJoin(n_miss).select(
        "n_certified",
        "n_missing",
        (F.col("n_missing") == 0).cast("int").alias("all_contained"),
    )


_DUCK_SQD = (
    "list_reduce(list_transform(range(1, len(a.v) + 1), "
    "i -> (a.v[CAST(i AS INT)] - b.v[CAST(i AS INT)])"
    " * (a.v[CAST(i AS INT)] - b.v[CAST(i AS INT)])), "
    "(acc, x) -> acc + x)"
)

BRP_CONTAINMENT_ORACLE = f"""
WITH base AS (
  SELECT vec_id, {_DUCK_DVEC.format(c='embedding')} AS v,
         list_reduce(list_transform(v[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                     (a, x) -> a || x) AS bucket
  FROM embeddings),
cert AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_DUCK_SQD} <= {_BRP_CONTAIN_SQ})
SELECT CAST(count(*) AS BIGINT) AS n_certified,
       CAST(0 AS BIGINT) AS n_missing,
       1 AS all_contained
FROM cert
"""


QUERIES = {
    "cosine_topk_bruteforce": cosine_topk_bruteforce,
    "ann_ivf_topk": ann_ivf_topk,
    "embedding_near_dup": embedding_near_dup,
    "semantic_contamination_report": semantic_contamination_report,
    "brp_lsh_containment": brp_lsh_containment,
    "ivf_upsert_equivalence": ivf_upsert_equivalence,
    "truncation_recall_report": truncation_recall_report,
    "margin_bitext_mine": margin_bitext_mine,
    "margin_bitext_mine_blocked": margin_bitext_mine_blocked,
}

ORACLES = {
    "cosine_topk_bruteforce": COSINE_TOPK_ORACLE,
    "ann_ivf_topk": ANN_IVF_ORACLE,
    "embedding_near_dup": NEAR_DUP_ORACLE,
    "semantic_contamination_report": SEM_CONTAMINATION_ORACLE,
    "brp_lsh_containment": BRP_CONTAINMENT_ORACLE,
    "ivf_upsert_equivalence": IVF_UPSERT_ORACLE,
    "truncation_recall_report": TRUNCATION_RECALL_ORACLE,
    "margin_bitext_mine": MARGIN_BITEXT_ORACLE,
    "margin_bitext_mine_blocked": MARGIN_BITEXT_BLOCKED_ORACLE,
}
