"""Multimodal-column operators (SURVEY §2.13, M6).

Images/audio/video ride through the engine as opaque ``binary``
columns plus typed metadata — the lakehouse pattern for multimodal
training data. The Spark-side plumbing here is real and tested:
binary payload columns, metadata extraction with native functions,
and Arrow-batched ``mapInPandas`` feature extraction with a correct
output schema. The *codec* step is the only stub: real decoders
(PIL/librosa/av) aren't in this container, so ``decode_image`` raises
``NotImplementedError`` naming the dependency, and the oracle-checked
pipeline uses a deterministic byte-level feature extractor instead —
same batch shape, same schema contract, swap the function at deploy.

Scale notes: payloads never shuffle — metadata/features are derived
in-place on the scan partition; only the (narrow) feature rows move.
``spark.sql.files.maxPartitionBytes`` bounds per-task payload memory;
Arrow batch size bounds the pandas-UDF working set.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import fan_out, table
from ..session import tune
from .dedup import _first_band_pairs

FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, payload_sha string, "
    "mean_byte double, max_byte int, frame_sample string"
)


def decode_image(payload: bytes) -> "object":
    """Real image decode — requires a codec library absent here."""
    try:
        from PIL import Image  # type: ignore
        import io

        return Image.open(io.BytesIO(payload))
    except ImportError as e:
        raise NotImplementedError(
            "image decode requires the 'Pillow' package; this container "
            "ships none of the codec libs — use extract_byte_features "
            "for the deterministic stand-in"
        ) from e


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata (stand-in:
    the utf-8 text bytes play the role of encoded media)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
            F.lit("fake/raw").alias("format"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


def extract_byte_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads: the
    deterministic byte-level stand-in for an image featurizer. Shape
    and schema are exactly what a real decoder UDF uses."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": len(b),
                        "payload_sha": hashlib.sha256(b).hexdigest(),
                        "mean_byte": (sum(b) / len(b)) if b else None,
                        "max_byte": max(b) if b else None,
                        # "frame sample": every 64th byte, first 8, hex
                        "frame_sample": b[::64][:8].hex(),
                    }
                )
            yield pd.DataFrame(rows, columns=[
                "doc_id", "n_bytes", "payload_sha", "mean_byte", "max_byte", "frame_sample",
            ])

    return payloads.mapInPandas(run, FEATURE_SCHEMA)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → metadata + pandas-UDF byte features, rounded
    for cross-engine hashing (documents are ASCII so byte stats equal
    codepoint stats, which the SQL oracle can reproduce).

    No fan_out: the per-row byte stats are trivial, so scan-split
    parallelism suffices — a 32-way repartition just multiplies Arrow
    batch + Python-worker startup overhead at test scale.
    """
    d = table(tune(spark), sf_dir, "documents")
    feats = extract_byte_features(with_binary_payload(d))
    return feats.select(
        "doc_id",
        "n_bytes",
        "payload_sha",
        F.round("mean_byte", 6).alias("mean_byte"),
        "max_byte",
        "frame_sample",
    )


MULTIMODAL_ORACLE = r"""
WITH b AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents),
stats AS (
  SELECT doc_id, text, n,
         list_transform(range(1, n + 1), i -> ascii(substr(text, CAST(i AS INT), 1))) AS codes
  FROM b)
SELECT doc_id,
       n AS n_bytes,
       sha256(text) AS payload_sha,
       round(CAST(list_reduce(codes, (a, x) -> a + x) AS DOUBLE) / n, 6) AS mean_byte,
       CAST(list_max(codes) AS INT) AS max_byte,
       list_reduce(
           list_transform(range(0, least(CAST(ceil(n / 64.0) AS BIGINT), 8)),
                          i -> printf('%02x', ascii(substr(text, CAST(i AS INT) * 64 + 1, 1)))),
           (a, x) -> a || x) AS frame_sample
FROM stats
"""


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-function metadata over binary payloads (no Python):
    size, sha, magic-byte sniff — the cheap pre-filter that runs
    before any decode at scale. Native codegen only — no fan_out."""
    d = table(tune(spark), sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha"),
        F.substring("text", 1, 4).alias("magic"),
        (F.octet_length(payload) > 256).cast("int").alias("passes_min_size"),
    )


MEDIA_META_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS INT) AS n_bytes,
       sha256(text) AS payload_sha,
       substr(text, 1, 4) AS magic,
       CAST(length(text) > 256 AS INT) AS passes_min_size
FROM documents
"""


#: synthetic video geometry: one "frame" per FRAME_BYTES of payload
FRAME_BYTES = 100
#: uniform samples taken per video (stride sampling)
N_STRIDE_SAMPLES = 8


def media_frame_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling SCHEDULE for video-shaped payloads: each
    payload is n_frames = ⌈bytes / FRAME_BYTES⌉ frames; the plan
    emits one row per sampled frame — uniform stride samples plus one
    content-keyed "keyframe" (hash-positioned, the deterministic
    stand-in for a scene-cut detector).  Downstream, each row is an
    independent decode task: exploding the schedule BEFORE decode is
    what lets a 1000-executor cluster parallelize inside single large
    videos instead of per-file.  The decode itself stays behind the
    `decode_image` environment stub; the schedule, schema, and
    explode shape are the real, tested plumbing.

    All row-local arithmetic — fuses into the scan, no shuffle."""
    d = table(tune(spark), sf_dir, "documents")
    n_frames = F.expr(
        f"CAST(ceil(length(text) / {FRAME_BYTES}.0) AS BIGINT)"
    )
    stride = F.expr(
        f"greatest(CAST(n_frames div {N_STRIDE_SAMPLES} AS BIGINT), 1L)"
    )
    base = d.select(
        "doc_id", n_frames.alias("n_frames")
    ).withColumn("stride", stride)
    strided = base.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.expr("sequence(0, n_frames - 1, stride)")
        ).alias("frame_idx"),
    ).withColumn("sample_kind", F.lit("stride"))
    key = base.select(
        "doc_id",
        "n_frames",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % n_frames"
        ).alias("frame_idx"),
    ).withColumn("sample_kind", F.lit("keyframe"))
    return strided.unionByName(key)


MEDIA_FRAME_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(ceil(length(text) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
  FROM documents),
geo AS (
  SELECT doc_id, n_frames,
         greatest(n_frames // {N_STRIDE_SAMPLES}, 1) AS stride
  FROM base)
SELECT doc_id, n_frames, CAST(t.f AS BIGINT) AS frame_idx,
       'stride' AS sample_kind
FROM geo, unnest(range(0, n_frames, stride)) t(f)
UNION ALL
SELECT doc_id, n_frames,
       CAST(({{HEX8}}) % n_frames AS BIGINT) AS frame_idx,
       'keyframe' AS sample_kind
FROM base
"""


def _frame_oracle() -> str:
    from .dedup import _hex8_sql

    return MEDIA_FRAME_ORACLE.replace(
        "{HEX8}", _hex8_sql("md5(CAST(doc_id AS VARCHAR))", 1)
    )


def media_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary dedup by content digest, per origin: payload
    count, distinct-payload count, and the byte mass a dedup'd store
    saves — the first pass every image/audio corpus runs (identical
    bytes re-crawled under different ids).  One map-side-combined
    aggregate over (origin, sha); payloads never shuffle — only
    digests move."""
    d = table(tune(spark), sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    per_sha = (
        d.select(
            F.col("source").alias("origin"),
            F.sha2(payload, 256).alias("sha"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        )
        .groupBy("origin", "sha")
        .agg(
            F.count("*").alias("copies"),
            F.first("n_bytes").alias("n_bytes"),
        )
    )
    return per_sha.groupBy("origin").agg(
        F.sum("copies").cast("long").alias("n_payloads"),
        F.count("*").alias("n_distinct"),
        F.sum((F.col("copies") - 1) * F.col("n_bytes"))
        .cast("long")
        .alias("dup_bytes_saved"),
    )


MEDIA_DEDUP_ORACLE = """
WITH per_sha AS (
  SELECT source AS origin, sha256(text) AS sha,
         count(*) AS copies,
         CAST(min(length(text)) AS BIGINT) AS n_bytes
  FROM documents GROUP BY 1, 2)
SELECT origin,
       CAST(sum(copies) AS BIGINT) AS n_payloads,
       count(*) AS n_distinct,
       CAST(sum((copies - 1) * n_bytes) AS BIGINT) AS dup_bytes_saved
FROM per_sha GROUP BY 1
"""


#: aHash geometry: 32 byte-segments → one positive 32-bit hash in a
#: BIGINT; 4 bands of 8 bits; Hamming threshold 3 (pigeonhole: ≤ 3
#: differing bits leave ≥ 1 of 4 bands equal, so the band join has
#: ZERO recall loss at this radius)
AHASH_SEGS = 32
AHASH_BANDS = 4
AHASH_HAM_T = 3


def _ahash_batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """Arrow-batched average-hash kernel over binary payloads — the
    perceptual-hash stand-in in the family's established shape (the
    REAL pipeline would decode pixels and DCT here; the byte-segment
    mean plays the 8×8 luma block's role, and every byte of Spark-side
    plumbing — schema, banding, bucket join, Hamming verify — is what
    the real one uses).  Pure integer decisions: bit_j compares
    seg_sum·n against total·seg_len (cross-multiplied, no division),
    with segment membership by the forward map (k·S) DIV n — exactly
    the oracle's ``(i-1)*S // n`` so both engines bucket every byte
    identically."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        out = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(bytes(payload), dtype=np.uint8)
            n = int(b.size)
            seg_idx = (np.arange(n, dtype=np.int64) * AHASH_SEGS) // n
            seg_sum = np.bincount(
                seg_idx, weights=b, minlength=AHASH_SEGS
            ).astype(np.int64)
            seg_len = np.bincount(seg_idx, minlength=AHASH_SEGS).astype(
                np.int64
            )
            tot = int(seg_sum.sum())
            h = 0
            for j in range(AHASH_SEGS):
                if int(seg_sum[j]) * n >= tot * int(seg_len[j]):
                    h |= 1 << (AHASH_SEGS - 1 - j)
            out.append((doc_id, h))
        yield pd.DataFrame(out, columns=["doc_id", "ahash"])


def _ahash_band_keys(m: str) -> list[str]:
    """The AHASH_BANDS 8-bit band keys of ``{m}ahash`` as SQL text."""
    return [f"shiftright({m}ahash, {8 * b}) & 255" for b in range(AHASH_BANDS)]


def _ahash_rows(docs: DataFrame) -> DataFrame:
    """``(doc_id, ahash)`` for eligible docs (payload ≥ AHASH_SEGS
    bytes): the kernel reduces each payload to one 8-byte hash on the
    scan partition."""
    payloads = with_binary_payload(docs).filter(
        F.col("media_meta.n_bytes") >= AHASH_SEGS
    )
    return payloads.select("doc_id", "payload").mapInPandas(
        _ahash_batches, "doc_id long, ahash long"
    )


def ahash_band_rows(docs: DataFrame) -> DataFrame:
    """``(doc_id, ahash, band_idx, band_val)`` rows for eligible docs
    — the banded index/probe unit of the streaming ingest gate.  Only
    these narrow band rows ever shuffle."""
    return _ahash_rows(docs).selectExpr(
        "doc_id",
        "ahash",
        f"posexplode(array({', '.join(_ahash_band_keys(''))}))"
        " AS (band_idx, band_val)",
    )


def media_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over media payloads — the
    similarity-level companion to :func:`media_dedup_exact` (exact
    digests catch identical bytes; re-encoded / near-identical media needs
    a perceptual hash): 32-segment average-hash per payload
    (Arrow-batched kernel), 4×8-bit banding for candidates, exact
    Hamming ≤ 3 verify on the candidate set.

    Scale shape: payloads never shuffle — the kernel reduces each to
    one 8-byte hash, and only (doc_id, ahash) rows move; candidates
    come from the band buckets, each pair once from the first band it
    shares (``dedup._first_band_pairs``, the minhash-LSH shape, never
    all-pairs), and the pigeonhole bound makes the banding LOSSLESS
    at radius 3, so this is exact near-dup, not approximate.  Docs
    shorter than the segment count are excluded identically in both
    engines (no stable signature below one byte per segment).
    """
    pairs = _first_band_pairs(
        _ahash_rows(table(tune(spark), sf_dir, "documents")),
        _ahash_band_keys,
        ("doc_id", "ahash"),
    )
    return pairs.selectExpr(
        "a.doc_id AS doc_a",
        "b.doc_id AS doc_b",
        "CAST(bit_count(a.ahash ^ b.ahash) AS INT) AS hamming",
    ).filter(F.col("hamming") <= AHASH_HAM_T)


#: shared oracle fragment: byte-based ahash per eligible doc plus its
#: band rows — consumed by both the batch near-dup oracle and the
#: streaming ingest-gate oracle
_AHASH_CTES = f"""d AS MATERIALIZED (
  -- BYTE-based, matching the Spark path exactly: the payload is the
  -- UTF-8 encoding of text, so iterate octets via hex(encode(..)),
  -- not codepoints — ord(substr(text,..)) would silently diverge on
  -- any non-ASCII document (round-9 advice item)
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
  WHERE octet_length(encode(text)) >= {AHASH_SEGS}),
ch AS MATERIALIZED (
  SELECT doc_id, n, (i - 1) * {AHASH_SEGS} // n AS seg,
         (CASE WHEN ord(substr(hx, CAST(2 * i - 1 AS INT), 1)) >= 65
               THEN ord(substr(hx, CAST(2 * i - 1 AS INT), 1)) - 55
               ELSE ord(substr(hx, CAST(2 * i - 1 AS INT), 1)) - 48
          END) * 16
         + (CASE WHEN ord(substr(hx, CAST(2 * i AS INT), 1)) >= 65
                 THEN ord(substr(hx, CAST(2 * i AS INT), 1)) - 55
                 ELSE ord(substr(hx, CAST(2 * i AS INT), 1)) - 48
            END) AS c
  FROM d, unnest(range(1, n + 1)) t(i)),
segs AS MATERIALIZED (
  SELECT doc_id, seg, CAST(sum(c) AS BIGINT) AS seg_sum,
         CAST(count(*) AS BIGINT) AS seg_len,
         CAST(sum(sum(c)) OVER (PARTITION BY doc_id) AS BIGINT) AS tot,
         CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT) AS n
  FROM ch GROUP BY 1, 2),
h AS MATERIALIZED (
  SELECT doc_id,
         CAST(sum(CASE WHEN seg_sum * n >= tot * seg_len
                  THEN (CAST(1 AS BIGINT)
                        << CAST({AHASH_SEGS} - 1 - seg AS INT))
                  ELSE 0 END) AS BIGINT) AS ahash
  FROM segs GROUP BY 1),
bands AS (
  SELECT doc_id, ahash, b AS band_idx,
         (ahash >> CAST(8 * b AS INT)) & 255 AS band_val
  FROM h, unnest(range(0, {AHASH_BANDS})) t(b))"""


MEDIA_AHASH_ORACLE = f"""
WITH {_AHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.ahash AS ha, b.ahash AS hb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {AHASH_HAM_T}
"""


#: streaming ingest-gate oracle: every ELIGIBLE doc with a verdict —
#: is_dup = some EARLIER-id eligible doc within Hamming AHASH_HAM_T
#: (banding is pigeonhole-lossless at that radius, so band-candidates
#: + exact verify equals the all-pairs predicate)
STREAM_AHASH_ORACLE = f"""
WITH {_AHASH_CTES},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS prior_id,
                  a.ahash AS ha, b.ahash AS hb
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND b.doc_id < a.doc_id)
SELECT h.doc_id,
       CAST(coalesce(max(CASE WHEN bit_count(xor(c.ha, c.hb))
                              <= {AHASH_HAM_T} THEN 1 ELSE 0 END),
                     0) AS INT) AS is_dup
FROM h LEFT JOIN cand c ON c.doc_id = h.doc_id
GROUP BY 1
"""


QUERIES = {
    "multimodal_features": multimodal_features,
    "media_metadata": media_metadata,
    "media_frame_schedule": media_frame_schedule,
    "media_dedup_exact": media_dedup_exact,
    "media_ahash_neardup": media_ahash_neardup,
}

ORACLES = {
    "multimodal_features": MULTIMODAL_ORACLE,
    "media_metadata": MEDIA_META_ORACLE,
    "media_frame_schedule": _frame_oracle(),
    "media_dedup_exact": MEDIA_DEDUP_ORACLE,
    "media_ahash_neardup": MEDIA_AHASH_ORACLE,
}
