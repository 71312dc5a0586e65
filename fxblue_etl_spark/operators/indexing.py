"""Corpus indexing & ordering: inverted-index construction, nucleus
vocabulary coverage, and deterministic training-order shuffling.

Beyond the reference's scope (its text columns are passthrough,
`CSV PARSER/gcp_csv.py:43-45`); these are the passes a retrieval /
training-data stack runs after cleaning:

- ``inverted_index_postings``: token → (document frequency, total
  term frequency, head of the sorted posting list) — the build step
  of a distributed search index.
- ``vocab_coverage``: per language, how many distinct token types
  cover 50/90/99% of the token mass (the "nucleus" curve that sizes
  tokenizer vocabularies); all comparisons are integer
  cross-multiplications, no float division anywhere.
- ``training_order_shuffle``: the deterministic md5-keyed shard+
  position assignment used to globally shuffle a corpus for training
  without a global sort — shard by hash bucket, order within shard
  by the full hash string.

Scale shape (100 TB):

- postings: explode → (tok, doc) partial-agg'd counts. The head-of-
  posting-list step is a two-level tournament top-K: level 1 keeps
  the K smallest doc_ids per (tok, doc-hash-bucket) — N_TOURNAMENT
  ways parallel even for stop-word tokens — and level 2 merges the
  ≤ N_TOURNAMENT·K survivors per token. No window ever sees a
  stop-word's full posting list, so the skewed-token partition that
  a single per-token window would serialize on never exists.
  ``MIN_DF`` prunes the hapax tail before any join.
- vocab_coverage: the cumulative-mass window is one task per
  language (vocabularies are Heaps-law-bounded, millions of rows at
  most — nothing like corpus scale); the corpus-sized explode ahead
  of it is map-side combined.
- training_order_shuffle: row_number runs per shard — parallelism =
  shard count (thousands at real scale), state per task = shard
  size, never a global sort. Shard count is the knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import fan_out, table
from .corpusops import _hash_bucket, _hash_bucket_sql
from .textops import ws_tokens

#: head of each posting list kept (smallest doc_ids)
POSTINGS_K = 5
#: tokens rarer than this document frequency are pruned
MIN_DF = 5
#: level-1 tournament ways for the posting-list head (bounds the
#: widest per-token window partition to ~df/N_TOURNAMENT)
N_TOURNAMENT = 8
#: nucleus thresholds, percent of per-language token mass
COVERAGE_PCTS = (50, 90, 99)
#: training shards for the deterministic shuffle
N_SHARDS = 16

_TOKS_SQL = r"""
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents
"""


def term_doc_index(docs: DataFrame) -> DataFrame:
    """Term-document rows of ``docs`` (needs ``doc_id``, ``text``):
    ``(tok, doc_id, tf)`` — the base segment every retrieval artifact
    (postings heads, BM25 scores, boolean census) derives from, and
    the unit of incremental maintenance (:func:`upsert_term_doc_index`).
    Pure per-document work: tokenize → explode → partial-agg'd count,
    so a delta batch indexes without touching the corpus."""
    return (
        docs.select("doc_id", ws_tokens("text").alias("toks"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def upsert_term_doc_index(index: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Incrementally maintain a term-doc index: drop the rows of
    re-ingested ``doc_id``s, append the delta's freshly tokenized
    rows — the retrieval-family mirror of ``dedup.upsert_band_index``
    and ``similarity.upsert_ivf_index``.

    At 100 TB this is the Lucene-segment pattern re-expressed
    relationally: the delta tokenizes as row-local work over the
    batch only (never a corpus re-pass), the anti-join probes the
    index by doc_id, and the union preserves the ``(tok, doc_id,
    tf)`` schema ready for compaction into the bucketed-by-``tok``
    serving layout.  Contract (tested + oracle-certified via
    ``postings_upsert_equivalence``): ``upsert(index(corpus), delta)
    ≡ index(corpus ∪ delta)`` row-set exact, including doc
    re-ingestion with changed text."""
    keep = index.join(
        new_docs.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    # the equi-join hoists doc_id to the front; restore the index's
    # declared (tok, doc_id, tf) order so upsert output ≡ rebuild
    # output column-for-column, not just by name
    return keep.unionByName(term_doc_index(new_docs)).select(*index.columns)


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents fixture: per token (df ≥
    MIN_DF), document frequency, total term frequency, and the first
    POSTINGS_K doc_ids of the sorted posting list (comma-joined)."""
    td = term_doc_index(
        fan_out(table(spark, sf_dir, "documents"))
    )
    stats = td.groupBy("tok").agg(
        F.count("*").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
    )
    # tournament level 1: K smallest doc_ids within each of
    # N_TOURNAMENT hash sub-streams of the token
    w1 = Window.partitionBy("tok", "tb").orderBy("doc_id")
    level1 = (
        td.withColumn(
            "tb", _hash_bucket(F.col("doc_id"), "postings|", N_TOURNAMENT)
        )
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= POSTINGS_K)
    )
    # level 2: merge the <= N_TOURNAMENT*K survivors per token
    w2 = Window.partitionBy("tok").orderBy("doc_id")
    head = (
        level1.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= POSTINGS_K)
        .groupBy("tok")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        stats.filter(F.col("df") >= MIN_DF)
        .join(head, "tok")
        .select("tok", "df", "tf_total", "postings_head")
    )


POSTINGS_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
td AS (
  SELECT t.tok, doc_id, count(*) AS tf
  FROM tk, unnest(toks) t(tok)
  GROUP BY 1, 2),
stats AS (
  SELECT tok, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
  FROM td GROUP BY 1),
head AS (
  SELECT tok,
         array_to_string((list(doc_id ORDER BY doc_id))[1:{POSTINGS_K}], ',')
           AS postings_head
  FROM td GROUP BY 1)
SELECT s.tok, s.df, s.tf_total, h.postings_head
FROM stats s JOIN head h USING (tok)
WHERE s.df >= {MIN_DF}
"""


#: upsert-equivalence split: doc_id % _DELTA_MOD == 0 arrive as
#: brand-new docs; corpus docs with doc_id % _REINGEST_MOD == 1 are
#: re-ingested with CHANGED text (their stale index rows must vanish)
_DELTA_MOD = 10
_REINGEST_MOD = 7


def postings_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-certifiable contract over :func:`upsert_term_doc_index`:
    ``upsert(index(corpus), delta) ≡ index(corpus ∪ delta)`` where the
    delta holds both brand-new docs AND re-ingested docs with changed
    text.  One summary row — (n_index_rows, n_only_upsert,
    n_only_rebuild, upsert_equals_rebuild) — whose oracle tokenizes
    the post-upsert corpus independently and pins both anti-join
    counts to 0, so an upsert that leaks stale rows or drops delta
    rows fails the hash compare instead of hiding behind a test
    fixture.  Same one-row-contract shape as
    ``dedup.minhash_lsh_containment``."""
    from ..io import swap_cache

    # persist the 2-column projection FIRST: corpus, the two delta
    # branches, the anti-join probe, and the rebuild side all derive
    # from it — unpersisted, the plan re-reads documents SIX times
    # per invocation (caught by the order-independent scan gate,
    # round 8); persisted, one physical corpus scan feeds everything
    docs = swap_cache(
        "indexing.upsert_equiv.docs",
        fan_out(table(spark, sf_dir, "documents")).select(
            "doc_id", "text"
        ),
    )
    is_new = F.col("doc_id") % _DELTA_MOD == 0
    is_reingest = (~is_new) & (F.col("doc_id") % _REINGEST_MOD == 1)
    rewritten = F.concat(
        F.lit("rewritten corpus document "),
        F.col("doc_id").cast("string"),
        F.lit(" with a disjoint replacement body"),
    )
    corpus = docs.filter(~is_new)
    delta = docs.filter(is_new).unionByName(
        docs.filter(is_reingest).withColumn("text", rewritten)
    )
    upserted = upsert_term_doc_index(term_doc_index(corpus), delta)
    rebuilt = term_doc_index(
        docs.withColumn(
            "text", F.when(is_reingest, rewritten).otherwise(F.col("text"))
        )
    )
    # upserted feeds three consumers (count + both anti-join probes),
    # rebuilt two — persist so the corpus tokenizes once per side
    upserted, rebuilt = swap_cache(
        "indexing.upsert_equiv", upserted, rebuilt
    )
    keys = ["tok", "doc_id", "tf"]
    n_rows = upserted.agg(F.count("*").cast("long").alias("n_index_rows"))
    n_up = upserted.join(rebuilt, keys, "left_anti").agg(
        F.count("*").cast("long").alias("n_only_upsert")
    )
    n_rb = rebuilt.join(upserted, keys, "left_anti").agg(
        F.count("*").cast("long").alias("n_only_rebuild")
    )
    return (
        n_rows.crossJoin(n_up)
        .crossJoin(n_rb)
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


POSTINGS_UPSERT_ORACLE = rf"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_DELTA_MOD} != 0 AND doc_id % {_REINGEST_MOD} = 1
              THEN 'rewritten corpus document ' || CAST(doc_id AS VARCHAR)
                   || ' with a disjoint replacement body'
              ELSE text END AS text
  FROM documents),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM docs),
td AS (
  SELECT t.tok, doc_id, count(*) AS tf
  FROM tk, unnest(toks) t(tok) GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_index_rows,
       CAST(0 AS BIGINT) AS n_only_upsert,
       CAST(0 AS BIGINT) AS n_only_rebuild,
       1 AS upsert_equals_rebuild
FROM td
"""


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus coverage per language: the smallest number of token
    types (ranked by frequency, token tiebreak) whose cumulative
    count reaches each of COVERAGE_PCTS percent of the language's
    token mass. ``100 * cum >= pct * total`` keeps the threshold
    integer-exact in both engines."""
    d = fan_out(table(spark, sf_dir, "documents")).select(
        "lang", ws_tokens("text").alias("toks")
    )
    cnt = (
        d.select("lang", F.explode("toks").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    # ranks, cumulative mass, AND language totals all come off the
    # same vocab-bounded count table as windows — a totals aggregate
    # joined back (twice) re-ran the corpus explode per reference
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    w_lang = Window.partitionBy("lang")
    ranked = cnt.select(
        "lang",
        "cnt",
        F.row_number().over(w).alias("rank"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("cnt").over(w_lang).cast("long").alias("total_toks"),
        F.count("*").over(w_lang).cast("long").alias("total_types"),
    )
    pcts = F.array(*[F.lit(p) for p in COVERAGE_PCTS])
    return (
        ranked.select("*", F.explode(pcts).alias("pct"))
        .filter(F.lit(100) * F.col("cum") >= F.col("pct") * F.col("total_toks"))
        .groupBy("lang", "pct")
        .agg(
            F.min("rank").alias("n_types"),
            F.min_by("cum", "rank").cast("long").alias("covered_toks"),
            F.first("total_types").alias("total_types"),
            F.first("total_toks").alias("total_toks"),
        )
        .select("lang", "pct", "n_types", "covered_toks", "total_types", "total_toks")
    )


VOCAB_COVERAGE_ORACLE = f"""
WITH tk AS ({_TOKS_SQL}),
cnt AS (
  SELECT lang, t.tok, count(*) AS cnt
  FROM tk, unnest(toks) t(tok)
  GROUP BY 1, 2),
ranked AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rank,
         sum(cnt) OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM cnt),
totals AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS total_toks,
         CAST(count(*) AS BIGINT) AS total_types
  FROM cnt GROUP BY 1)
SELECT r.lang, p.pct,
       CAST(min(r.rank) AS INT) AS n_types,
       CAST(arg_min(r.cum, r.rank) AS BIGINT) AS covered_toks,
       t.total_types, t.total_toks
FROM ranked r
JOIN totals t USING (lang)
CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in COVERAGE_PCTS)}]) AS pct) p
WHERE 100 * r.cum >= p.pct * t.total_toks
GROUP BY r.lang, p.pct, t.total_types, t.total_toks
"""


def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: shard by hash
    bucket of doc_id, position within shard by the full md5 string
    (doc_id tiebreak — md5 collisions are astronomically unlikely but
    determinism must not rest on that)."""
    d = table(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.lit("order|"), F.col("doc_id").cast("string")))
    sharded = d.select(
        "doc_id",
        _hash_bucket(F.col("doc_id"), "shuffle|", N_SHARDS).alias("shard"),
        key.alias("okey"),
    )
    w = Window.partitionBy("shard").orderBy("okey", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


TRAINING_ORDER_ORACLE = f"""
SELECT doc_id,
       CAST({_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "shuffle|", N_SHARDS)} AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY {_hash_bucket_sql("CAST(doc_id AS VARCHAR)", "shuffle|", N_SHARDS)}
         ORDER BY md5('order|' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
FROM documents
"""


QUERIES = {
    "inverted_index_postings": inverted_index_postings,
    "postings_upsert_equivalence": postings_upsert_equivalence,
    "vocab_coverage": vocab_coverage,
    "training_order_shuffle": training_order_shuffle,
}

ORACLES = {
    "inverted_index_postings": POSTINGS_ORACLE,
    "postings_upsert_equivalence": POSTINGS_UPSERT_ORACLE,
    "vocab_coverage": VOCAB_COVERAGE_ORACLE,
    "training_order_shuffle": TRAINING_ORDER_ORACLE,
}
