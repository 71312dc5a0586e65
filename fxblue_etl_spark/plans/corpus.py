"""End-to-end LLM corpus preparation pipeline (the §2.13 composite).

The individual operators — quality scoring, language-ID, content-hash
dedup, MinHash-LSH near-dup, connected components — are each
oracle-checked in isolation (`operators/textops.py`,
`operators/dedup.py`, `operators/graph.py`); a real training-data
pipeline runs them as one chained plan:

    documents → quality gate (Gopher-ish score ≥ 0.7)
              → language gate (marker-ID ≠ unk)
              → exact dedup   (keep min doc_id per content md5)
              → near-dup trim (banded MinHash pair graph, exact
                Jaccard ≥ 0.5, connected components → keep the min
                doc_id of each duplicate CLUSTER)
              → per-language corpus stats

The near-dup stage is the real pipeline shape: pair generation is the
banded LSH equi-join (O(docs × bands) shuffle, never all-pairs), and
transitive closure over the pair graph merges A~B~C chains that a
single global fingerprint (the previous winnowing min-hash trim)
under-merges — while never collapsing docs that merely share one
boilerplate 8-gram.

Chaining matters at 100 TB: the three filters fuse into the scan, the
exact-dedup window and the LSH band join are both hash-partitioned
shuffles on content keys, and the component loop is a handful of
supersteps over the (tiny) pair graph, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import BAND_SIG_SQL, SIG_LIST_SQL

#: exact-Jaccard threshold for a candidate pair to count as near-dup
NEAR_DUP_JACCARD = 0.5


def llm_survivor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-level keep-set of the cleaning pipeline — quality gate
    → language gate → exact dedup (content-md5 window) → near-dup
    trim (LSH pair graph → components → keep cluster minimum):
    (doc_id, text, n_tokens, quality_score, pred_lang, content_md5),
    one row per SURVIVING document.  Extracted from
    ``llm_corpus_prep`` (round-11 verdict item 6) so the composed
    release pipeline can consume the certified keep-set at doc
    granularity; ``llm_corpus_prep`` is exactly this frame's
    per-language rollup — same plan, same oracle lineage."""
    from ..io import fan_out, swap_cache, table
    from ..operators.dedup import KERNEL_PART_BYTES, lsh_jaccard_pairs
    from ..operators.graph import connected_components
    from ..operators.textops import (
        marker_hits,
        pred_lang_from_hits,
        quality_signal_cols,
        ws_tokens,
    )

    # ONE corpus scan computes every pre-dedup signal: the quality
    # gate, the marker language-ID, and the content md5 are all
    # row-local expressions over the same text column (the shared
    # builders in textops keep them identical to the certified
    # standalone operators), so joining three derived frames on
    # doc_id — three corpus scans plus two corpus-sized shuffles —
    # would pay for co-location the scan already has.  The gate
    # filters fuse into the scan; the first shuffle of the whole
    # pipeline is the exact-dedup window on content_md5.
    n_tok, _n_stop, score = quality_signal_cols()
    pred = pred_lang_from_hits(marker_hits(ws_tokens(F.lower(F.col("text")))))
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    survivors = (
        fan_out(table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            "text",
            n_tok.alias("n_tokens"),
            F.round(score, 2).alias("quality_score"),
            (score >= 0.7).alias("__keep"),
            pred.alias("pred_lang"),
            F.md5(norm).alias("content_md5"),
        )
        .filter(F.col("__keep") & (F.col("pred_lang") != "unk"))
        .drop("__keep")
    )
    exact_kept = (
        survivors.withColumn(
            "__m", F.min("doc_id").over(Window.partitionBy("content_md5"))
        )
        .filter(F.col("doc_id") == F.col("__m"))
        .drop("__m")
    )
    # exact_kept feeds BOTH the pair graph and the final keep-set
    # anti join; persist so the quality/lang/md5 lineage runs once
    # instead of twice (it is tiny: post-gate survivors only).
    # persist — not localCheckpoint — so the blocks are releasable
    # via unpersist; swap_cache frees the previous invocation's.
    exact_kept = swap_cache("corpus.llm_prep", exact_kept)

    # Near-dup trim over the exact-dedup survivors: banded-LSH pair
    # graph (verified Jaccard >= 0.5) → connected components → keep
    # the cluster-minimum doc. Docs outside the pair graph keep
    # themselves. The component label IS the min reachable doc_id, so
    # "keeper" = (id == component).
    # fan_out: the MinHash Arrow kernel is per-document Python work.
    # exact_kept is persisted, which hides its input files from
    # fan_out, so the kernel runs on the exact-dedup window's shuffle
    # partitions; the byte cap applies if that persist goes away.
    pairs = (
        lsh_jaccard_pairs(
            fan_out(
                exact_kept.select("doc_id", "text"),
                part_bytes=KERNEL_PART_BYTES,
            )
        )
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
        .select("doc_a", "doc_b")
    )
    losers = (
        connected_components(
            pairs, src="doc_a", dst="doc_b", slot="corpus.llm_prep_cc"
        )
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"))
    )
    return exact_kept.join(losers, "doc_id", "left_anti")


def llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    near_kept = llm_survivor_docs(spark, sf_dir)
    # quality_sum as an exact integer e1 sum: the per-doc score is a
    # bit-identical double in both engines (same additions, same
    # order), so floor(score·10) matches exactly and the integer sum
    # is aggregation-order-independent (README determinism rule 1)
    return near_kept.groupBy("pred_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens_total"),
        F.sum(F.floor(F.col("quality_score") * 10)).cast("long").alias("quality_sum_e1"),
    )


#: the survivor keep-set CTE chain (doc-level ``near_kept``), shared
#: verbatim by LLM_CORPUS_ORACLE and the composed release pipeline's
#: oracle — one certified SQL lineage, two consumers
LLM_SURVIVOR_CTES = rf"""toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS ws,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS lt,
         CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
  FROM documents),
scored AS (
  SELECT doc_id, norm,
         CAST(len(ws) AS INT) AS n_tokens,
         CAST(CASE WHEN len(ws) BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
          + CASE WHEN len(list_intersect(ws, ['the','and','of','to','a'])) > 0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS score,
         CAST(len(list_intersect(lt, ['the','and','of','to','a'])) AS INT) AS hits_en,
         CAST(len(list_intersect(lt, ['der','die','und','das','ist'])) AS INT) AS hits_de,
         CAST(len(list_intersect(lt, ['le','la','et','les','des'])) AS INT) AS hits_fr,
         CAST(len(list_intersect(lt, ['el','la','que','de','los'])) AS INT) AS hits_es,
         md5(norm) AS content_md5
  FROM toks),
survivors AS (
  SELECT *,
         CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'unk'
              WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
              WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
              WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
              ELSE 'es' END AS pred_lang
  FROM scored
  WHERE score >= 0.7),
lang_ok AS (
  SELECT * FROM survivors WHERE pred_lang != 'unk'),
exact_kept AS (
  SELECT * FROM (SELECT *, min(doc_id) OVER (PARTITION BY content_md5) AS m
                 FROM lang_ok)
  WHERE doc_id = m),
mtoks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(norm, '\s+'), t -> t != '') AS mt
  FROM exact_kept),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(0, greatest(len(mt) - 3, 0) + 1),
             i -> mt[CAST(i AS INT) + 1] || ' ' || mt[CAST(i AS INT) + 2] || ' ' || mt[CAST(i AS INT) + 3]))
           AS shingles
  FROM mtoks
  WHERE len(mt) >= 3),
hs AS (
  SELECT doc_id, shingles, list_transform(shingles, s -> md5(s)) AS ms
  FROM sh),
sigs AS (
  SELECT doc_id, shingles, {SIG_LIST_SQL} AS sig
  FROM hs),
bands AS (
  SELECT doc_id, shingles, CAST(b AS INT) AS band_idx,
         md5({BAND_SIG_SQL}) AS band_sig
  FROM sigs, range(0, 4) t(b)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.shingles) AS sh_a, any_value(b.shingles) AS sh_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT doc_a, doc_b
  FROM cand
  WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5),
edges(s, d) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
closure AS (
  SELECT s, d FROM reach UNION SELECT s, s FROM edges),
comp AS (
  SELECT s AS doc_id, min(d) AS component FROM closure GROUP BY s),
near_kept AS (
  SELECT e.* FROM exact_kept e
  LEFT JOIN comp c ON e.doc_id = c.doc_id
  WHERE c.doc_id IS NULL OR c.doc_id = c.component)"""

LLM_CORPUS_ORACLE = f"""
WITH RECURSIVE {LLM_SURVIVOR_CTES}
SELECT pred_lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
       CAST(sum(CAST(floor(round(score, 2) * 10) AS BIGINT)) AS BIGINT) AS quality_sum_e1
FROM near_kept
GROUP BY pred_lang
"""


def training_shard_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone sink step a pretraining pipeline ends with: assign
    every document its deterministic split (`corpusops.corpus_split`
    hashing), write the corpus as parquet partitioned by split — the
    layout a trainer's dataloader lists and reads — then read the
    shards back and certify per-(split, lang) document counts, token
    sums, and a content checksum against the source table. If the
    shard write lost a row, reordered unicode bytes, or misrouted a
    split, the hash diverges.

    Scale: the write is one scan + hash-partitioned directory write
    (split is 3-valued — bounded cardinality, the partition rule from
    `io.write_partitioned`); the certify pass reads only the shard
    columns it aggregates."""
    from ..io import stage_fixture, table
    from ..operators.corpusops import TRAIN_PCT, VAL_PCT, _hash_bucket
    from ..operators.textops import ws_tokens

    d = table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"), "split|", 100)
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    shards = d.select("doc_id", "lang", "text", split.alias("split"))
    path = stage_fixture(
        sf_dir,
        "training_shards",
        lambda tmp: shards.write.partitionBy("split")
        .mode("overwrite")
        .parquet(tmp),
    )
    back = spark.read.parquet(path)
    return back.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(ws_tokens("text"))).cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        # order-insensitive content checksum: sum of per-doc md5
        # prefixes — certifies the text payload survived the shard
        # write byte-for-byte
        F.sum(
            F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
        ).cast("long").alias("content_sum"),
    )


def _shard_oracle() -> str:
    from ..operators.corpusops import TRAIN_PCT, VAL_PCT, _hash_bucket_sql
    from ..operators.dedup import _hex8_sql

    bucket = _hash_bucket_sql("CAST(doc_id AS VARCHAR)", "split|", 100)
    return rf"""
WITH s AS (
  SELECT doc_id, lang, text,
         CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                t -> t != ''))) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc,
       CAST(sum({_hex8_sql("md5(text)", 1)}) AS BIGINT) AS content_sum
FROM s
GROUP BY 1, 2
"""


TRAINING_SHARD_ORACLE = _shard_oracle()


#: minimum whitespace tokens for a document to enter the RAG corpus
RAG_MIN_TOKS = 10


def rag_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end retrieval-corpus prep composite: length gate →
    overlapping chunking → boilerplate chunk dedup (keep the first
    site of each repeated chunk, drop the rest) → corpus summary with
    an order-insensitive content checksum.

    The retrieval sibling of ``llm_corpus_prep``: where that one
    feeds a *training* mixture (document-level near-dup trim), this
    one feeds an *index* (chunk-level exact dedup — a repeated
    licence block should be embedded once, not once per document).

    Plan shape: the gate and chunking fuse into the scan (no
    shuffle); dedup is one hash-keyed window (min-site per
    chunk_hash); the summary is a single-row aggregate. Scale-linear
    in corpus tokens."""
    from ..io import fan_out, table
    from ..operators.textops import chunk_frame, ws_tokens

    d = fan_out(table(spark, sf_dir, "documents"))
    n_in = d.select(F.count("*").alias("n_docs_in"))
    kept = d.filter(F.size(ws_tokens("text")) >= RAG_MIN_TOKS)
    chunks = chunk_frame(kept)
    # keep-first tiebreak on the REAL columns: row_number ordered by
    # (doc_id, tok_start).  The former `doc_id*100000 + tok_start`
    # packing collides across doc_ids once a document has ≥ 100000
    # tokens (a ~1500-chunk book), silently keeping the wrong chunk.
    # Both windows share the chunk_hash partition key → one shuffle.
    w = Window.partitionBy("chunk_hash")
    wo = w.orderBy("doc_id", "tok_start")
    deduped = (
        chunks.withColumn("site_rn", F.row_number().over(wo))
        .withColumn("n_sites", F.count("*").over(w))
        .filter(F.col("site_rn") == 1)
    )
    summary = deduped.agg(
        F.count("*").alias("n_chunks_kept"),
        F.sum((F.col("n_sites") > 1).cast("long")).alias("n_boilerplate_hashes"),
        F.sum("n_sites").cast("long").alias("n_chunks_raw"),
        F.countDistinct("doc_id").alias("n_docs_chunked"),
        F.sum(
            F.conv(F.substring("chunk_hash", 1, 8), 16, 10).cast("long")
        )
        .cast("long")
        .alias("chunk_content_sum"),
    )
    return n_in.crossJoin(F.broadcast(summary)).select(
        "n_docs_in",
        "n_docs_chunked",
        "n_chunks_raw",
        "n_chunks_kept",
        "n_boilerplate_hashes",
        "chunk_content_sum",
    )


def _rag_oracle() -> str:
    from ..operators.dedup import _hex8_sql
    from ..operators.textops import CHUNK_STRIDE, CHUNK_TOKS

    h = _hex8_sql("chunk_hash", 1)
    return rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
kept AS (SELECT * FROM tk WHERE len(toks) >= {RAG_MIN_TOKS}),
st AS (
  SELECT doc_id, toks,
         list_filter(range(0, greatest(len(toks) - 1, 0) + 1, {CHUNK_STRIDE}),
                     s -> s < len(toks)) AS starts
  FROM kept),
ex AS (
  SELECT doc_id, u.s AS tok_start,
         md5(array_to_string(toks[u.s + 1 : u.s + {CHUNK_TOKS}], ' ')) AS chunk_hash
  FROM st, unnest(starts) u(s)),
marked AS (
  SELECT *,
         row_number() OVER (PARTITION BY chunk_hash
                            ORDER BY doc_id, tok_start) AS site_rn,
         count(*) OVER (PARTITION BY chunk_hash) AS n_sites
  FROM ex),
deduped AS (
  SELECT * FROM marked WHERE site_rn = 1)
SELECT (SELECT count(*) FROM documents) AS n_docs_in,
       count(DISTINCT doc_id) AS n_docs_chunked,
       CAST(sum(n_sites) AS BIGINT) AS n_chunks_raw,
       count(*) AS n_chunks_kept,
       CAST(sum(CASE WHEN n_sites > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate_hashes,
       CAST(sum({h}) AS BIGINT) AS chunk_content_sum
FROM deduped
"""


RAG_CORPUS_ORACLE = _rag_oracle()


def corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release-gate manifest a pretraining-data drop ships with:
    ONE row assembling the certified pipeline stages — raw corpus
    mass, the cleaned/deduped survivor stats (`llm_corpus_prep`),
    leak-free split accounting with its zero-straddle certificate
    (`split_decontaminate`), the mixture budget actually apportioned
    (`mixture_allocation`), and the corpus-wide tokenizer fertility.
    Every number is the aggregate of an independently oracle-checked
    operator, so the manifest is end-to-end certified by
    construction; a regression in ANY stage flips this single row.

    Scale: each component keeps its own plan; the manifest adds four
    1-row aggregates crossJoin-broadcast together."""
    from ..io import table
    from ..operators.corpusops import mixture_allocation, tokenizer_fertility
    from ..operators.graph import split_decontaminate

    docs = table(spark, sf_dir, "documents")
    raw = docs.agg(
        F.count("*").alias("raw_docs"),
        F.sum("n_chars").cast("long").alias("raw_chars"),
    )
    prep = llm_corpus_prep(spark, sf_dir).agg(
        F.sum("n_docs").cast("long").alias("kept_docs"),
        F.sum("n_tokens_total").cast("long").alias("kept_tokens"),
        F.count("*").alias("kept_langs"),
    )
    split = split_decontaminate(spark, sf_dir).agg(
        F.count("*").alias("n_splits"),
        F.sum("n_docs").cast("long").alias("split_docs"),
        F.sum("n_straddling_groups").cast("long").alias("straddling_groups"),
    )
    mix = mixture_allocation(spark, sf_dir).agg(
        F.count("*").alias("budget_langs"),
        F.sum("final_quota").cast("long").alias("budget_allocated"),
    )
    fert = tokenizer_fertility(spark, sf_dir).agg(
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * sum(char_sum)"
            " DIV greatest(sum(tok_sum), 1) AS BIGINT)"
        ).alias("corpus_chars_per_tok_ppm")
    )
    out = raw
    for piece in (prep, split, mix, fert):
        out = out.crossJoin(F.broadcast(piece))
    return out


def _release_manifest_oracle() -> str:
    from ..operators.corpusops import MIXTURE_ORACLE, TOKENIZER_FERTILITY_ORACLE
    from ..operators.graph import SPLIT_DECON_ORACLE

    return f"""
SELECT *
FROM (SELECT count(*) AS raw_docs, CAST(sum(n_chars) AS BIGINT) AS raw_chars
      FROM documents),
     (SELECT CAST(sum(n_docs) AS BIGINT) AS kept_docs,
             CAST(sum(n_tokens_total) AS BIGINT) AS kept_tokens,
             count(*) AS kept_langs
      FROM ({LLM_CORPUS_ORACLE})),
     (SELECT count(*) AS n_splits,
             CAST(sum(n_docs) AS BIGINT) AS split_docs,
             CAST(sum(n_straddling_groups) AS BIGINT) AS straddling_groups
      FROM ({SPLIT_DECON_ORACLE})),
     (SELECT count(*) AS budget_langs,
             CAST(sum(final_quota) AS BIGINT) AS budget_allocated
      FROM ({MIXTURE_ORACLE})),
     (SELECT CAST(CAST(1000000 AS HUGEINT) * sum(char_sum)
                  // greatest(sum(tok_sum), 1) AS BIGINT)
               AS corpus_chars_per_tok_ppm
      FROM ({TOKENIZER_FERTILITY_ORACLE}))
"""


RELEASE_MANIFEST_ORACLE = _release_manifest_oracle()


def corpus_release_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHAINED corpus-release pipeline (round-11 verdict item 6):
    where ``corpus_release_manifest`` assembles independent stage
    AGGREGATES into one row, this query certifies the stages agree on
    their HAND-OFF SCHEMAS by actually flowing the doc-level keep-set
    through them — the ``fx_ingest_end_to_end`` discipline applied to
    the training-data path:

        llm_survivor_docs  (clean → gate → exact dedup → near-dup trim)
          ⨝ doc_id  split assignment   (the split_decontaminate
                     group-aware rule over the SAME dup-group spine)
          ⟕ doc_id  chunk_dedup_rewrite (per-doc rewrite economics)
          → per (split, pred_lang) release accounting

    ``n_missing_split`` is the hand-off certificate: every surviving
    document must receive exactly one split (the spine covers ALL
    docs, survivors are a subset — a schema/coverage drift in either
    stage makes this nonzero and flips every row's hash).

    Scale shape: each stage keeps its own certified plan; the
    composition adds two doc-keyed hash joins (survivors ≪ corpus)
    and one broadcast scalar — nothing new shuffles at corpus size.
    """
    from ..operators.corpusops import _hash_bucket
    from ..operators.dedup import chunk_dedup_rewrite
    from ..operators.graph import _TRAIN_PCT, _VAL_PCT, _doc_dup_groups

    surv = llm_survivor_docs(spark, sf_dir).select(
        "doc_id", "pred_lang", "n_tokens", "quality_score"
    )
    b = _hash_bucket(F.col("grp"), "dsplit|", 100)
    sp = _doc_dup_groups(spark, sf_dir).select(
        "doc_id",
        F.when(b < _TRAIN_PCT, F.lit("train"))
        .when(b < _VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    rewrite = chunk_dedup_rewrite(spark, sf_dir).select(
        "doc_id", "chunk_toks_dropped"
    )
    joined = surv.join(sp, "doc_id", "left").join(rewrite, "doc_id", "left")
    # Aggregate FIRST, once, and persist only the (splits × langs)-sized
    # group frame: the former shape had two consumers of `joined` (the
    # certificate aggregate and the groupBy), and Spark shares no
    # lineage between consumers — the whole three-pipeline chain
    # executed TWICE per call (measured 5.9s → the group-first rewrite
    # halves the chain work; r14 optimization round, guide §2.4).  The
    # certificate is derivable from the groups because null-split rows
    # form their own (split IS NULL) groups: Σ n_docs over those groups
    # IS the old row-level null count.
    from ..io import swap_cache

    grouped = swap_cache(
        "corpus.release_groups",
        joined.groupBy("split", "pred_lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens_total"),
            F.sum(F.floor(F.col("quality_score") * 10))
            .cast("long")
            .alias("quality_sum_e1"),
            F.sum(F.col("chunk_toks_dropped").isNotNull().cast("long"))
            .cast("long")
            .alias("n_docs_rewritten"),
            F.sum(F.coalesce(F.col("chunk_toks_dropped"), F.lit(0)))
            .cast("long")
            .alias("chunk_toks_dropped"),
        ),
    )
    miss = grouped.agg(
        F.sum(
            F.when(F.col("split").isNull(), F.col("n_docs")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("n_missing_split")
    )
    return grouped.crossJoin(F.broadcast(miss))  # 1-row certificate


def _release_end_to_end_oracle() -> str:
    from ..operators.dedup import _chunk_rewrite_oracle
    from ..operators.graph import (
        _TRAIN_PCT,
        _VAL_PCT,
        _doc_groups_sql,
    )
    from ..operators.corpusops import _hash_bucket_sql

    b = _hash_bucket_sql("CAST(grp AS VARCHAR)", "dsplit|", 100)
    return f"""
WITH RECURSIVE {LLM_SURVIVOR_CTES},
rewrite AS MATERIALIZED (
  SELECT doc_id, chunk_toks_dropped
  FROM ({_chunk_rewrite_oracle()}) r),
sp AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN {b} < {_TRAIN_PCT} THEN 'train'
              WHEN {b} < {_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (WITH RECURSIVE {_doc_groups_sql()}
        SELECT doc_id, grp FROM assigned) g),
joined AS (
  SELECT nk.doc_id, nk.pred_lang, nk.n_tokens, nk.score, sp.split,
         r.chunk_toks_dropped IS NOT NULL AS rewritten,
         coalesce(r.chunk_toks_dropped, 0) AS ctd
  FROM near_kept nk
  LEFT JOIN sp ON nk.doc_id = sp.doc_id
  LEFT JOIN rewrite r ON nk.doc_id = r.doc_id),
miss AS (
  SELECT CAST(coalesce(sum(CASE WHEN split IS NULL THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_missing_split
  FROM joined)
SELECT j.split, j.pred_lang,
       count(*) AS n_docs,
       CAST(sum(j.n_tokens) AS BIGINT) AS n_tokens_total,
       CAST(sum(CAST(floor(round(j.score, 2) * 10) AS BIGINT)) AS BIGINT)
         AS quality_sum_e1,
       CAST(sum(CASE WHEN j.rewritten THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_rewritten,
       CAST(sum(j.ctd) AS BIGINT) AS chunk_toks_dropped,
       m.n_missing_split
FROM joined j, miss m
GROUP BY j.split, j.pred_lang, m.n_missing_split
"""


RELEASE_END_TO_END_ORACLE = _release_end_to_end_oracle()


QUERIES = {
    "training_shard_roundtrip": training_shard_roundtrip,
    "llm_corpus_prep": llm_corpus_prep,
    "rag_corpus_prep": rag_corpus_prep,
    "corpus_release_manifest": corpus_release_manifest,
    "corpus_release_end_to_end": corpus_release_end_to_end,
}

ORACLES = {
    "llm_corpus_prep": LLM_CORPUS_ORACLE,
    "training_shard_roundtrip": TRAINING_SHARD_ORACLE,
    "rag_corpus_prep": RAG_CORPUS_ORACLE,
    "corpus_release_manifest": RELEASE_MANIFEST_ORACLE,
    "corpus_release_end_to_end": RELEASE_END_TO_END_ORACLE,
}
