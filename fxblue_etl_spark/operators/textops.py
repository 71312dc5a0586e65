"""Text-analysis operators for LLM-data pipelines (SURVEY §2.13, M6).

Everything here is native Spark SQL expressions over the `documents`
fixture — per-row string work is embarrassingly parallel and stays
inside whole-stage codegen (no shuffle except final aggregations, no
Python). At 100 TB these scale linearly with input splits.

Operators: token counting (whitespace + BPE-ish regex), quality
scoring (length/punct/stopword ratios), language-ID (stopword-marker
heuristic), document fingerprinting (normalized-content hash + minhash
of character shingles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import fan_out, table
from ..session import tune

#: BPE-ish pretokenizer: word pieces or single non-space symbols
BPE_RE = r"\w+|[^\w\s]"

#: tiny per-language marker sets for the heuristic language-ID
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "que", "de", "los"),
}


def ws_tokens(c: Column | str) -> Column:
    """Whitespace tokenization (empty strings filtered)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def bpeish_tokens(c: Column | str) -> Column:
    """BPE-style pretokenization: words + individual punctuation."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(c, F.lit(BPE_RE), 0)


def text_stats(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Token counts + quality signals per document.

    ``docs`` lets a composite (quality_feature_matrix) feed all its
    signals from ONE persisted scan instead of five."""
    d = docs if docs is not None else fan_out(
        table(tune(spark), sf_dir, "documents")
    )
    toks = ws_tokens("text")
    bpe = bpeish_tokens("text")
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[\w\s]", ""))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        n_chars.alias("n_chars"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size(toks),
            4,
        ).alias("avg_token_len"),
        F.round(n_punct.cast("double") / n_chars, 6).alias("punct_ratio"),
    )


TEXT_STATS_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS ws,
         regexp_extract_all(text, '\w+|[^\w\s]') AS bpe
  FROM documents)
SELECT doc_id,
       CAST(len(ws) AS INT) AS n_ws_tokens,
       CAST(len(bpe) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars,
       round(list_reduce(list_transform(ws, t -> CAST(length(t) AS DOUBLE)),
                         (a, x) -> a + x) / len(ws), 4) AS avg_token_len,
       round(CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
             / length(text), 6) AS punct_ratio
FROM toks
"""


def quality_signal_cols(
    text: Column | str = "text",
) -> tuple[Column, Column, Column]:
    """(n_tokens, n_stopwords, raw score) for a text column — the one
    definition behind ``quality_score`` AND the fused single-scan
    pipelines (``llm_corpus_prep``), so the gate expression cannot
    drift from the certified operator."""
    text = F.col(text) if isinstance(text, str) else text
    toks = ws_tokens(text)
    n_tok = F.size(toks)
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(toks, stop))
    punct_ratio = F.length(
        F.regexp_replace(text, r"[\w\s]", "")
    ).cast("double") / F.length(text)
    score = (
        F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(n_stop > 0, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return n_tok, n_stop, score


def marker_hits(toks: Column) -> dict[str, Column]:
    """Per-language marker-token hit counts over a lowercased token
    array (the language-ID signal)."""
    return {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in markers]))
        )
        for lang, markers in LANG_MARKERS.items()
    }


def pred_lang_from_hits(hits: dict[str, Column]) -> Column:
    """Argmax language with the fixed-order tie-break ``lang_id``
    certifies (earlier LANG_MARKERS entries win ties)."""
    best = F.greatest(*hits.values())
    pred = F.lit("unk")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            pred
        )
    return pred


def quality_score(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Composite quality score: length band + stopword presence -
    punctuation noise (a Gopher-rules-flavored heuristic)."""
    d = docs if docs is not None else fan_out(
        table(tune(spark), sf_dir, "documents")
    )
    n_tok, n_stop, score = quality_signal_cols()
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(score, 2).alias("quality_score"),
        (score >= 0.7).cast("int").alias("keep"),
    )


QUALITY_ORACLE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS ws,
         CAST(length(regexp_replace(text, '[\w\s]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents),
scored AS (
  SELECT doc_id,
         CAST(len(ws) AS INT) AS n_tokens,
         CAST(len(list_intersect(ws, ['the','and','of','to','a'])) AS INT) AS n_stopwords,
         CAST(CASE WHEN len(ws) BETWEEN 20 AND 1000 THEN 0.5 ELSE 0.0 END
          + CASE WHEN len(list_intersect(ws, ['the','and','of','to','a'])) > 0 THEN 0.3 ELSE 0.0 END
          + CASE WHEN punct_ratio < 0.1 THEN 0.2 ELSE 0.0 END AS DOUBLE) AS score
  FROM toks)
SELECT doc_id, n_tokens, n_stopwords,
       round(score, 2) AS quality_score,
       CAST(score >= 0.7 AS INT) AS keep
FROM scored
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID: argmax of per-language marker hits
    (deterministic tie-break by fixed language order)."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    toks = ws_tokens(F.lower(F.col("text")))
    hit_cols = []
    df = d.select("doc_id", "lang", toks.alias("toks"))
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(w) for w in markers])
        df = df.withColumn(f"hits_{lang}", F.size(F.array_intersect(F.col("toks"), arr)))
        hit_cols.append(f"hits_{lang}")
    pred = pred_lang_from_hits(
        {lang: F.col(f"hits_{lang}") for lang in LANG_MARKERS}
    )
    return df.select("doc_id", F.col("lang").alias("label_lang"), *hit_cols, pred.alias("pred_lang"))


LANG_ID_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '') AS t
  FROM documents),
hits AS (
  SELECT doc_id, lang,
         CAST(len(list_intersect(t, ['the','and','of','to','a'])) AS INT) AS hits_en,
         CAST(len(list_intersect(t, ['der','die','und','das','ist'])) AS INT) AS hits_de,
         CAST(len(list_intersect(t, ['le','la','et','les','des'])) AS INT) AS hits_fr,
         CAST(len(list_intersect(t, ['el','la','que','de','los'])) AS INT) AS hits_es
  FROM toks)
SELECT doc_id, lang AS label_lang, hits_en, hits_de, hits_fr, hits_es,
       CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'unk'
            WHEN hits_en = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'en'
            WHEN hits_de = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'de'
            WHEN hits_fr = greatest(hits_en, hits_de, hits_fr, hits_es) THEN 'fr'
            ELSE 'es' END AS pred_lang
FROM hits
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of whitespace/case-normalized text +
    a rolling-hash-style minimum over character 8-gram hashes
    (winnowing's select-min step over the full document)."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1)))
    gram_hashes = F.transform(idx, lambda i: F.md5(norm.substr(i, F.lit(8))))
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_md5"),
        F.array_min(gram_hashes).alias("winnow_min_hash"),
    )


FINGERPRINT_ORACLE = r"""
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents)
SELECT doc_id,
       md5(t) AS content_md5,
       list_min(list_transform(range(1, greatest(length(t) - 7, 1) + 1),
                               i -> md5(substr(t, CAST(i AS INT), 8)))) AS winnow_min_hash
FROM norm
"""


#: winnowing geometry (Schleimer et al., SIGMOD 2003): character
#: k-grams, window of w consecutive gram hashes, and the shared-
#: fingerprint floor for a pair to be reported.  Guarantee: any
#: common substring of length >= w + k - 1 chars yields at least one
#: SHARED fingerprint — detection is lossless above that length.
WINNOW_K = 8
WINNOW_W = 16
#: measured on the fixture: the shared-count distribution has median
#: 3 and a long tail (p99 = 7, max 55) — 3 reports template noise
#: (18k pairs), 8 isolates real fragment sharing (154 pairs at
#: sf0.001, 28 above 12)
WINNOW_MIN_SHARED = 8
#: boilerplate cap (standard MOSS practice): a fingerprint present in
#: more than 1/WINNOW_DF_CAP_FRAC of documents identifies the
#: TEMPLATE, not a copy — it is dropped before the pair join (on this
#: corpus the uncapped join reported 25% of ALL pairs as sharing >= 3
#: fingerprints; the cap is also what keeps the posting join skew-free
#: at scale, exactly like the prefix filter's df rank)
WINNOW_DF_CAP_FRAC = 10
#: ABSOLUTE document-frequency cap (round-14 verdict item 4: the 10×
#: probe measured e = 1.37 — pair-mass-driven superlinearity).  The
#: fractional cap above scales WITH the corpus (nd/10 docs may share
#: a fingerprint at 10× the corpus → 100× the pairs per fingerprint),
#: so the pair join stays latent-quadratic on a mass-duplication
#: corpus.  Capping df at an absolute constant bounds the fan-out of
#: EVERY fingerprint at C(64, 2) ≈ 2k pairs, making total pair mass
#: linear in the number of distinct fingerprints — and the count of
#: fingerprints the absolute leg drops (beyond what the template rule
#: already dropped) is emitted on every row as ``n_capped_fps``:
#: exact up to the cap, explicit beyond it.
WINNOW_DF_ABS = 64


def winnowing_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al. 2003) — the LOCAL
    fingerprinting `doc_fingerprint`'s single global min degenerates
    from: every window of WINNOW_W consecutive character-k-gram
    hashes contributes its minimum (ties to the RIGHTMOST position —
    the paper's robust-winnowing rule, spelled as min(struct(hash,
    -pos)) so both engines agree), the distinct (hash, pos) picks
    form the document's fingerprint set, and documents sharing >=
    WINNOW_MIN_SHARED distinct fingerprint hashes are reported with
    the shared count — the copy-detection join that catches partial
    plagiarism exact dedup and whole-doc similarity both miss.

    The winnowing guarantee makes this exact above its threshold:
    any shared run of >= W + K − 1 characters MUST share a
    fingerprint, so missed matches are bounded by construction, not
    by probability (contrast MinHash).

    Scale shape: the position explosion is corpus-chars rows but
    row-local; the sliding min is a per-doc bounded window (doc
    length); the pair join is an equi-join on fingerprint hash
    (posting-list shaped, never all-pairs).  TWO df caps bound the
    posting fan-out: the fractional template rule (df > nd/10 =
    boilerplate) and the absolute pair-mass guard (df >
    WINNOW_DF_ABS → at most C(64,2) pairs per fingerprint, so total
    pair mass is linear in distinct fingerprints even on a
    mass-duplication corpus — round-14 verdict item 4).  Every row
    carries ``n_capped_fps`` = how many fingerprints the absolute
    leg dropped beyond the template rule: 0 means the output is the
    exact uncapped answer; > 0 makes the truncation explicit."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    n = F.length(norm)
    docs = d.select("doc_id", norm.alias("t"), n.alias("len")).filter(
        F.col("len") >= WINNOW_K
    )
    pos = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("len") - (WINNOW_K - 1))
        ).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(F.md5(F.expr(f"substr(t, pos, {WINNOW_K})")), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    picks = (
        pos.withColumn(
            "sel", F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w)
        )
        .select(
            "doc_id",
            F.col("sel.h").alias("fp"),
            (-F.col("sel.np")).alias("fp_pos"),
        )
        .distinct()
    )
    from ..io import swap_cache

    # persist the per-doc fingerprint set (fingerprints ≪ character
    # positions): un-persisted, the df count, the template semi-join
    # rebuild, and BOTH pair-join sides each re-ran the full
    # explode→md5→sliding-window pipeline — the r14 scan sweep
    # measured 8 documents scans in this one plan (guide §2.4)
    fps = swap_cache(
        "textops.winnow_fps", picks.select("doc_id", "fp").distinct()
    )
    ndocs = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("df"))
    caps = dfreq.crossJoin(F.broadcast(ndocs)).select(
        "fp",
        "df",
        F.greatest(
            F.lit(2).cast("long"),
            F.least(
                F.expr(f"nd DIV {WINNOW_DF_CAP_FRAC}"),
                F.lit(WINNOW_DF_ABS).cast("long"),
            ),
        ).alias("eff_cap"),
        F.greatest(
            F.lit(2).cast("long"),
            F.expr(f"nd DIV {WINNOW_DF_CAP_FRAC}"),
        ).alias("frac_cap"),
    )
    # caps feeds both the rare keep-set and the overflow marker —
    # persist it (fingerprint-vocabulary-sized) so the df aggregate
    # over the cached fingerprint set runs once
    caps = swap_cache("textops.winnow_caps", caps)
    rare = caps.filter(F.col("df") <= F.col("eff_cap")).select("fp")
    # fingerprints the ABSOLUTE leg dropped beyond the template rule
    # — the explicit overflow marker (a 1-row scalar, broadcast)
    capped = caps.filter(
        (F.col("df") > F.col("eff_cap")) & (F.col("df") <= F.col("frac_cap"))
    ).agg(F.count(F.lit(1)).cast("long").alias("n_capped_fps"))
    fps = fps.join(rare, "fp", "left_semi")
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .crossJoin(F.broadcast(capped))  # 1-row scalar, by design
    )


def _winnow_oracle() -> str:
    return rf"""
WITH norm AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents),
docs AS (
  SELECT doc_id, t, length(t) AS len FROM norm WHERE length(t) >= {WINNOW_K}),
pos AS (
  SELECT doc_id, CAST(p AS INT) AS pos,
         ({_HEX8_MD5_SQL}) AS h
  FROM (SELECT doc_id, t,
               unnest(range(1, len - {WINNOW_K - 1} + 1)) AS p
        FROM docs)),
picks AS (
  SELECT DISTINCT doc_id,
         (min({{'h': h, 'np': -pos}}) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW)).h
           AS fp
  FROM pos),
dfreq AS (SELECT fp, count(*) AS df FROM picks GROUP BY 1),
capsv AS (
  SELECT greatest(2, least((SELECT count(*) FROM docs)
                             // {WINNOW_DF_CAP_FRAC},
                           {WINNOW_DF_ABS})) AS eff_cap,
         greatest(2, (SELECT count(*) FROM docs)
                       // {WINNOW_DF_CAP_FRAC}) AS frac_cap),
rare AS (
  SELECT fp FROM dfreq, capsv WHERE df <= eff_cap),
capped AS (
  SELECT CAST(count(*) AS BIGINT) AS n_capped_fps
  FROM dfreq, capsv WHERE df > eff_cap AND df <= frac_cap),
kept AS (SELECT p.doc_id, p.fp FROM picks p JOIN rare USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared,
       (SELECT n_capped_fps FROM capped) AS n_capped_fps
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


#: the md5-hex8 integer of the k-gram at 1-based `pos` of column `t`
#: (DuckDB spelling of Spark's conv(substring(md5(...), 1, 8), 16, 10);
#: the strpos arithmetic is spelled locally — importing dedup._hex8_sql
#: here would close a circular import, dedup already imports textops)
_HEX8_MD5_SQL = " + ".join(
    f"(strpos('0123456789abcdef',"
    f" substr(md5(substr(t, CAST(p AS INT), {WINNOW_K})), {1 + k}, 1)) - 1)"
    f" * {16 ** (7 - k)}"
    for k in range(8)
)


#: standard PII patterns (ASCII-safe in both Java regex and RE2) and a
#: configurable keyword redaction list. The fixture's synthetic text
#: contains no real PII, so the regex legs certify as exact no-ops
#: while the wordlist leg rewrites real tokens — both paths hashed.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
REDACT_WORDS = ("key", "hash")
REDACT_WORDS_RE = r"\b(" + "|".join(REDACT_WORDS) + r")\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-keyword scrubbing — the redaction pass every
    shareable training corpus runs before sharding. Emails, phone
    numbers, and IPs are replaced by type tags; a configurable
    keyword list is masked. All four legs are sequential
    regexp_replace calls fused into one codegen'd scan projection (no
    Python, no shuffle); the scrubbed text is certified by md5 and the
    per-doc match counts are taken on the ORIGINAL text so the oracle
    checks detection and rewrite independently."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    n_pii = (
        F.regexp_count("text", F.lit(PII_EMAIL_RE))
        + F.regexp_count("text", F.lit(PII_PHONE_RE))
        + F.regexp_count("text", F.lit(PII_IP_RE))
    )
    n_kw = F.regexp_count("text", F.lit(REDACT_WORDS_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", PII_EMAIL_RE, "[EMAIL]"),
                PII_PHONE_RE,
                "[PHONE]",
            ),
            PII_IP_RE,
            "[IP]",
        ),
        REDACT_WORDS_RE,
        "[REDACTED]",
    )
    return d.select(
        "doc_id",
        n_pii.cast("int").alias("n_pii"),
        n_kw.cast("int").alias("n_keywords"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


PII_SCRUB_ORACLE = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
          + len(regexp_extract_all(text, '{PII_PHONE_RE}'))
          + len(regexp_extract_all(text, '{PII_IP_RE}')) AS INT) AS n_pii,
       CAST(len(regexp_extract_all(text, '{REDACT_WORDS_RE}')) AS INT) AS n_keywords,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_PHONE_RE}', '[PHONE]', 'g'),
             '{PII_IP_RE}', '[IP]', 'g'),
             '{REDACT_WORDS_RE}', '[REDACTED]', 'g')) AS scrubbed_md5
FROM documents
"""


#: tokens per chunk / stride between chunk starts (overlap = CHUNK - STRIDE)
CHUNK_TOKS = 64
CHUNK_STRIDE = 48


def chunk_frame(d: DataFrame) -> DataFrame:
    """Row-local chunking of a (doc_id, text) frame; see
    ``doc_chunking`` for semantics."""
    d = d.select("doc_id", ws_tokens("text").alias("toks"))
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(CHUNK_STRIDE)),
        lambda s: s < F.size("toks"),
    )
    chunked = d.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "tok_start")
    )
    piece = F.slice("toks", F.col("tok_start") + 1, CHUNK_TOKS)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "tok_start",
        F.size(piece).alias("n_toks"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks per document — the
    retrieval/embedding prep step (chunk → embed → index). Chunk
    starts step by CHUNK_STRIDE so consecutive chunks overlap by
    ``CHUNK_TOKS - CHUNK_STRIDE`` tokens; the final partial chunk is
    kept. Emits the chunk's exact token span and a content hash so a
    chunk-level exact-dedup (boilerplate detection across documents)
    is one groupBy away.

    Scale shape: entirely row-local (tokenize → computed start
    sequence → slice → hash fused into the scan) — the only
    multiplication is the ~n_toks/STRIDE output rows per doc. No
    shuffle at all."""
    from ..io import fan_out, table
    from ..session import tune

    return chunk_frame(fan_out(table(tune(spark), sf_dir, "documents")))


CHUNKING_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
st AS (
  SELECT doc_id, toks,
         list_filter(range(0, greatest(len(toks) - 1, 0) + 1, {CHUNK_STRIDE}),
                     s -> s < len(toks)) AS starts
  FROM tk),
ex AS (
  SELECT doc_id, toks,
         u.s.st AS tok_start, u.s.i - 1 AS chunk_idx
  FROM (SELECT doc_id, toks,
               unnest(list_transform(starts, (st, i) -> {{'st': st, 'i': i}})) AS s
        FROM st) u)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(tok_start AS INT) AS tok_start,
       CAST(len(toks[tok_start + 1 : tok_start + {CHUNK_TOKS}]) AS INT) AS n_toks,
       md5(array_to_string(toks[tok_start + 1 : tok_start + {CHUNK_TOKS}], ' ')) AS chunk_hash
FROM ex
"""


def chunk_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact dedup: 64-token windows whose content hash
    repeats (within or across documents) — boilerplate headers,
    licence blocks, templated passages. One hash-keyed groupBy over
    the row-local chunking; at scale this is the cheap first pass
    that removes repeated passages before any near-dup machinery."""
    c = doc_chunking(spark, sf_dir)
    # first occurrence as the lexicographic min of the REAL
    # (doc_id, tok_start) pair — struct min, one aggregate.  The
    # former `doc_id*100000 + tok_start` packing collided across
    # doc_ids for documents with ≥ 100000 tokens.
    return (
        c.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "tok_start")).alias("fs"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "chunk_hash",
            "n_occurrences",
            "n_docs",
            F.col("fs.doc_id").alias("first_doc"),
            F.col("fs.tok_start").alias("first_tok"),
        )
    )


CHUNK_BOILERPLATE_ORACLE = rf"""
WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
st AS (
  SELECT doc_id, toks,
         list_filter(range(0, greatest(len(toks) - 1, 0) + 1, {CHUNK_STRIDE}),
                     s -> s < len(toks)) AS starts
  FROM tk),
ex AS (
  SELECT doc_id, u.s AS tok_start,
         md5(array_to_string(toks[u.s + 1 : u.s + {CHUNK_TOKS}], ' ')) AS chunk_hash
  FROM st, unnest(starts) u(s)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY chunk_hash
                               ORDER BY doc_id, tok_start) AS rn
  FROM ex)
SELECT chunk_hash,
       count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS first_doc,
       CAST(max(CASE WHEN rn = 1 THEN tok_start END) AS INT) AS first_tok
FROM ranked
GROUP BY 1
HAVING count(*) > 1
"""


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text normalization (the pass upstream of every dedup /
    tokenize step): strip control characters, collapse whitespace
    runs, trim, lowercase. Emits the normalized text's length, its
    md5, and whether the document changed — all row-local codegen,
    fused into the scan; the oracle reproduces each rewrite with the
    same RE2-safe patterns."""
    d = fan_out(table(tune(spark), sf_dir, "documents"))
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace("text", r"[\x00-\x1f\x7f]", " "),
                r"\s+",
                " ",
            )
        )
    )
    return d.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
        (norm != F.col("text")).cast("int").alias("changed"),
    )


TEXT_NORMALIZE_ORACLE = r"""
SELECT doc_id,
       length(lower(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
           '\s+', ' ', 'g')))) AS n_chars_norm,
       md5(lower(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
           '\s+', ' ', 'g')))) AS norm_md5,
       CAST(lower(trim(regexp_replace(
           regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
           '\s+', ' ', 'g'))) != text AS INT) AS changed
FROM documents
"""


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation harness over the lang-ID operator: the
    full confusion matrix of predicted vs labeled language, each cell
    carrying its share of the label's row (recall decomposition) in
    exact ppm — the eval report any model-assisted pipeline stage
    (lang-ID, quality classifier, PII tagger) publishes before its
    predictions gate data.

    Scale: reuses the row-local scorer, then one catalog-bounded
    groupBy; label totals come off the matrix itself via a bounded
    window, so the corpus is scanned once."""
    preds = lang_id(spark, sf_dir).select("label_lang", "pred_lang")
    cells = preds.groupBy("label_lang", "pred_lang").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("label_lang")
    return cells.select(
        "label_lang",
        "pred_lang",
        "n",
        F.sum("n").over(w).cast("long").alias("label_total"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * n"
            " DIV sum(n) OVER (PARTITION BY label_lang) AS BIGINT)"
        ).alias("cell_ppm"),
    )


LANGID_CONFUSION_ORACLE = rf"""
WITH preds AS ({LANG_ID_ORACLE}),
cells AS (
  SELECT label_lang, pred_lang, count(*) AS n
  FROM preds GROUP BY 1, 2)
SELECT label_lang, pred_lang, n,
       CAST(sum(n) OVER (PARTITION BY label_lang) AS BIGINT) AS label_total,
       CAST(CAST(1000000 AS HUGEINT) * n
            // sum(n) OVER (PARTITION BY label_lang) AS BIGINT) AS cell_ppm
FROM cells
"""


def _kappa_floordiv(num: str, den: str, div_op: str) -> str:
    """Portable FLOOR division for possibly-negative numerators —
    the ``operators.ml._pmod_floordiv`` idiom, inlined here because
    importing ml at module-exec time closes an import cycle
    (textops ← dedup ← ml)."""
    return (
        f"(({num}) - ((({num}) % ({den}) + ({den})) % ({den}))) "
        f"{div_op} ({den})"
    )


def classifier_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between the marker-based language classifier and
    the stored label — the CHANCE-CORRECTED agreement statistic next
    to `langid_confusion`'s raw matrix (a classifier that answers
    'en' for everything scores 40% raw agreement on a 40%-English
    corpus but κ = 0; model-assisted pipeline gates should publish
    the corrected number).

    Exact-rational arithmetic end to end: with N docs, D observed
    agreements and chance mass C = Σ_k row_k·col_k,

        κ = (N·D − C) / (N² − C)

    emitted as floor-ppm via the portable positive-mod floor
    division (κ can be negative, where Spark DIV truncates but
    DuckDB // floors) alongside floor-ppm p_o = D/N and
    p_e = C/N².  No float touches the statistic.

    Scale shape: one row-local scoring pass, one catalog-bounded
    cell aggregate (≤ |langs|² rows), then margins and the κ
    quotient on a single-row frame — the corpus is scanned once."""
    preds = lang_id(spark, sf_dir).select("label_lang", "pred_lang")
    cells = preds.groupBy("label_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    rows = cells.groupBy(F.col("label_lang").alias("k")).agg(
        F.sum("n").cast("long").alias("row_n")
    )
    cols = cells.groupBy(F.col("pred_lang").alias("k")).agg(
        F.sum("n").cast("long").alias("col_n")
    )
    chance = (
        rows.join(cols, "k")
        .agg(
            F.sum(F.col("row_n") * F.col("col_n"))
            .cast("long")
            .alias("chance_mass")
        )
    )
    base = cells.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("label_lang") == F.col("pred_lang"), F.col("n")
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_agree"),
    )
    return (
        base.crossJoin(F.broadcast(chance))
        .select(
            "n_docs",
            "n_agree",
            "chance_mass",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_agree"
                " DIV n_docs AS BIGINT)"
            ).alias("po_ppm"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * chance_mass"
                " DIV (n_docs * n_docs) AS BIGINT)"
            ).alias("pe_ppm"),
            # degenerate confusion matrix (every doc in one
            # (label, pred) cell → N² = C) leaves κ undefined; emit
            # 0 on both engines rather than an engine-dependent
            # divide-by-zero (round-13 advice item 3)
            F.expr(
                "CASE WHEN n_docs * n_docs = chance_mass THEN 0"
                " ELSE CAST("
                + _kappa_floordiv(
                    "CAST(1000000 AS DECIMAL(38,0))"
                    " * (n_docs * n_agree - chance_mass)",
                    "(n_docs * n_docs - chance_mass)",
                    "DIV",
                )
                + " AS BIGINT) END"
            ).alias("kappa_ppm"),
        )
    )


def _kappa_oracle() -> str:
    kappa = _kappa_floordiv(
        "CAST(1000000 AS HUGEINT) * (n_docs * n_agree - chance_mass)",
        "(n_docs * n_docs - chance_mass)",
        "//",
    )
    return f"""
WITH preds AS ({LANG_ID_ORACLE}),
cells AS (
  SELECT label_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
  FROM preds GROUP BY 1, 2),
marg AS (
  SELECT CAST(sum(r.row_n * c.col_n) AS BIGINT) AS chance_mass
  FROM (SELECT label_lang AS k, sum(n) AS row_n FROM cells GROUP BY 1) r
  JOIN (SELECT pred_lang AS k, sum(n) AS col_n FROM cells GROUP BY 1) c
    ON r.k = c.k),
base AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN label_lang = pred_lang THEN n ELSE 0 END)
              AS BIGINT) AS n_agree
  FROM cells)
SELECT n_docs, n_agree, chance_mass,
       CAST(CAST(1000000 AS HUGEINT) * n_agree // n_docs AS BIGINT)
         AS po_ppm,
       CAST(CAST(1000000 AS HUGEINT) * chance_mass
            // (n_docs * n_docs) AS BIGINT) AS pe_ppm,
       CASE WHEN n_docs * n_docs = chance_mass THEN 0
            ELSE CAST({kappa} AS BIGINT) END AS kappa_ppm
FROM base, marg
"""


QUERIES = {
    "text_stats": text_stats,
    "quality_score": quality_score,
    "lang_id": lang_id,
    "doc_fingerprint": doc_fingerprint,
    "winnowing_fingerprint_pairs": winnowing_fingerprint_pairs,
    "pii_scrub": pii_scrub,
    "doc_chunking": doc_chunking,
    "chunk_boilerplate": chunk_boilerplate,
    "text_normalize": text_normalize,
    "langid_confusion": langid_confusion,
    "classifier_agreement_kappa": classifier_agreement_kappa,
}

ORACLES = {
    "text_stats": TEXT_STATS_ORACLE,
    "quality_score": QUALITY_ORACLE,
    "lang_id": LANG_ID_ORACLE,
    "doc_fingerprint": FINGERPRINT_ORACLE,
    "winnowing_fingerprint_pairs": _winnow_oracle(),
    "pii_scrub": PII_SCRUB_ORACLE,
    "doc_chunking": CHUNKING_ORACLE,
    "chunk_boilerplate": CHUNK_BOILERPLATE_ORACLE,
    "text_normalize": TEXT_NORMALIZE_ORACLE,
    "langid_confusion": LANGID_CONFUSION_ORACLE,
    "classifier_agreement_kappa": _kappa_oracle(),
}
