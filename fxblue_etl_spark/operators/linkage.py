"""Probabilistic record linkage (Fellegi & Sunter 1969) — the
entity-resolution layer ABOVE blocking: given candidate pairs from a
blocked join, score each field-agreement PATTERN by how much more
often true matches exhibit it than non-matches (m/u probabilities,
match odds).  The reference pipeline upserts rows by an exact
composite key (`CSV PARSER/gcp_csv.py:129-141` — its records arrive
keyed); a warehouse consolidating records WITHOUT a shared key — the
classic master-data problem, and the cross-source identity problem an
LLM corpus has when the same author/site appears under variant
metadata — needs the probabilistic generalization.

The fixture has no second dirty feed, so the query derives one
DETERMINISTICALLY from `customer` (keyed md5 buckets decide which
records lose their name, a dollar off their balance, or their segment — the same
derivation in both engines), links it back WITHOUT using the key,
and, because the true key is then known, reports the exact
Fellegi-Sunter evidence table: per agreement pattern, how many
candidate pairs, how many are true matches, m = P(pattern | match)
and u = P(pattern | non-match) as integer ppm, and the match odds
m/u.  On a real dirty feed the m/u estimation step is EM over the
same pattern counts; everything downstream of the counts is this
exact plan.

Scale shape: both sides project off one scan; candidates are an
equi-join on (nationkey, balance-block) — the feed's block key
comes from its corrupted balance, so an off-by-one at a block
boundary costs that true pair (blocking recall < 1, deterministic); the pattern aggregate is ≤ 2^3 rows; totals broadcast
back as a singleton.  Candidate volume within a block is
|clean|x|dirty| — at larger scale the block key gains fields
(name trigram, rounded-balance digit), same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .corpusops import _hash_bucket, _hash_bucket_sql

#: corruption rates (percent) for the derived dirty feed
LNK_NAME_LOSS_PCT = 20
LNK_BAL_OFFBYONE_PCT = 30
LNK_SEG_LOSS_PCT = 10
#: blocking: nationkey x floor(acctbal / LNK_BAL_BLOCK)
LNK_BAL_BLOCK = 2000


def _clean_side(c: DataFrame) -> DataFrame:
    return c.select(
        F.col("c_custkey").alias("key_c"),
        F.col("c_nationkey").alias("blk_nation"),
        F.floor(F.col("c_acctbal") / LNK_BAL_BLOCK).cast("long").alias("blk_bal"),
        F.col("c_name").alias("name_c"),
        F.floor(F.col("c_acctbal")).cast("long").alias("bal_c"),
        F.col("c_mktsegment").alias("seg_c"),
    )


def _dirty_side(c: DataFrame) -> DataFrame:
    """The derived dirty feed: every customer re-keyed, with keyed-md5
    buckets corrupting fields — name gone for ~20%, balance entered
    off by one dollar for ~30% (every balance arrives floor()-
    truncated: cents lost), segment gone for ~10%.  The feed's block
    key comes from the CORRUPTED balance, as a real feed's would —
    an off-by-one at a block boundary loses that true pair from the
    candidate set (blocking recall < 1, deterministic in both
    engines)."""
    b_name = _hash_bucket(F.col("c_custkey"), "lnkn|", 100)
    b_bal = _hash_bucket(F.col("c_custkey"), "lnkb|", 100)
    b_seg = _hash_bucket(F.col("c_custkey"), "lnks|", 100)
    bal_d = F.floor(F.col("c_acctbal")).cast("long") + F.when(
        b_bal < LNK_BAL_OFFBYONE_PCT, F.lit(1)
    ).otherwise(F.lit(0))
    return c.select(
        F.col("c_custkey").alias("key_d"),
        F.col("c_nationkey").alias("blk_nation"),
        F.floor(bal_d / LNK_BAL_BLOCK).cast("long").alias("blk_bal"),
        F.when(b_name < LNK_NAME_LOSS_PCT, F.lit("UNKNOWN"))
        .otherwise(F.col("c_name"))
        .alias("name_d"),
        bal_d.alias("bal_d"),
        F.when(b_seg < LNK_SEG_LOSS_PCT, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_d"),
    )


def record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter evidence table over blocked candidate pairs:
    one row per (name, balance, segment) agreement pattern with pair
    counts, true-match counts, m/u probabilities in exact integer
    ppm, and match-odds ppm (NULL when the pattern never occurs among
    non-matches — infinite evidence).  See module docstring."""
    c = table(spark, sf_dir, "customer")
    cand = _clean_side(c).join(_dirty_side(c), ["blk_nation", "blk_bal"])
    pat = cand.select(
        (F.col("name_c") == F.col("name_d")).cast("int").alias("agree_name"),
        (F.col("bal_c") == F.col("bal_d")).cast("int").alias("agree_bal"),
        (F.col("seg_c") == F.col("seg_d")).cast("int").alias("agree_seg"),
        (F.col("key_c") == F.col("key_d")).cast("long").alias("is_match"),
    )
    counts = pat.groupBy("agree_name", "agree_bal", "agree_seg").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("is_match").cast("long").alias("n_match"),
        (F.count("*") - F.sum("is_match")).cast("long").alias("n_nonmatch"),
    )
    totals = counts.agg(
        F.sum("n_match").cast("long").alias("tot_m"),
        F.sum("n_nonmatch").cast("long").alias("tot_u"),
    )
    j = counts.crossJoin(F.broadcast(totals))
    odds = F.when(
        F.col("n_nonmatch") > 0,
        F.expr("1000000 * n_match * tot_u DIV (tot_m * n_nonmatch)"),
    ).cast("long")
    return j.select(
        "agree_name",
        "agree_bal",
        "agree_seg",
        "n_pairs",
        "n_match",
        "n_nonmatch",
        F.expr("1000000 * n_match DIV tot_m").cast("long").alias("m_ppm"),
        F.expr("1000000 * n_nonmatch DIV tot_u").cast("long").alias("u_ppm"),
        odds.alias("odds_ppm"),
    )


def _cand_sql() -> str:
    """clean/dirty/cand CTE fragment (shared by the evidence oracle
    and the assignment oracle)."""
    bn = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnkn|", 100)
    bb = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnkb|", 100)
    bs = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnks|", 100)
    return f"""clean AS (
  SELECT c_custkey AS key_c, c_nationkey AS blk_nation,
         CAST(floor(c_acctbal / {LNK_BAL_BLOCK}) AS BIGINT) AS blk_bal,
         c_name AS name_c,
         CAST(floor(c_acctbal) AS BIGINT) AS bal_c,
         c_mktsegment AS seg_c
  FROM customer),
dirty AS (
  SELECT c_custkey AS key_d, c_nationkey AS blk_nation,
         CAST(floor(CAST(CAST(floor(c_acctbal) AS BIGINT)
              + CASE WHEN ({bb}) < {LNK_BAL_OFFBYONE_PCT} THEN 1 ELSE 0 END
              AS DOUBLE) / {LNK_BAL_BLOCK}) AS BIGINT) AS blk_bal,
         CASE WHEN ({bn}) < {LNK_NAME_LOSS_PCT} THEN 'UNKNOWN'
              ELSE c_name END AS name_d,
         CAST(floor(c_acctbal) AS BIGINT)
              + CASE WHEN ({bb}) < {LNK_BAL_OFFBYONE_PCT} THEN 1 ELSE 0 END
              AS bal_d,
         CASE WHEN ({bs}) < {LNK_SEG_LOSS_PCT} THEN 'UNKNOWN'
              ELSE c_mktsegment END AS seg_d
  FROM customer),
cand AS (
  SELECT * FROM clean JOIN dirty USING (blk_nation, blk_bal))"""


def _fs_oracle() -> str:
    return f"""
WITH {_cand_sql()},
pat AS (
  SELECT CAST(name_c = name_d AS INT) AS agree_name,
         CAST(bal_c = bal_d AS INT) AS agree_bal,
         CAST(seg_c = seg_d AS INT) AS agree_seg,
         CAST(key_c = key_d AS BIGINT) AS is_match
  FROM cand),
counts AS (
  SELECT agree_name, agree_bal, agree_seg,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(is_match) AS BIGINT) AS n_match,
         CAST(count(*) - sum(is_match) AS BIGINT) AS n_nonmatch
  FROM pat GROUP BY 1, 2, 3),
tot AS (
  SELECT CAST(sum(n_match) AS BIGINT) AS tot_m,
         CAST(sum(n_nonmatch) AS BIGINT) AS tot_u
  FROM counts)
SELECT agree_name, agree_bal, agree_seg, n_pairs, n_match, n_nonmatch,
       CAST((1000000 * n_match) // tot_m AS BIGINT) AS m_ppm,
       CAST((1000000 * n_nonmatch) // tot_u AS BIGINT) AS u_ppm,
       CASE WHEN n_nonmatch > 0
            THEN CAST((1000000 * n_match * tot_u)
                      // (tot_m * n_nonmatch) AS BIGINT)
            END AS odds_ppm
FROM counts, tot
"""




#: NULL-odds sentinel for the assignment ordering: a pattern with no
#: non-match occurrences carries infinite evidence, ranked above any
#: finite odds in BOTH engines via this explicit max-int coalesce
LNK_ODDS_INF = (1 << 63) - 1


def linkage_greedy_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ASSIGNMENT step Fellegi-Sunter evidence feeds (the half
    `record_linkage_fs` stops short of): turn scored candidate pairs
    into a ONE-TO-ONE clean↔dirty linkage by reciprocal best match —
    a pair links iff it is the highest-odds candidate for its clean
    record AND for its dirty record (ties: lowest partner key).
    Reciprocal-best is the deterministic, window-expressible form of
    greedy assignment (strict sequential greedy is a global order
    dependence no shuffle engine should buy; mutual-best is the
    production ER shape and differs only on evidence-tied chains).

    Pair scores are the certified evidence table's own odds_ppm
    (joined on the 8-row agreement-pattern key, broadcast), with the
    infinite-evidence patterns (odds NULL — never seen among
    non-matches) ranked above any finite odds via LNK_ODDS_INF.

    One summary row: candidates, assignments, correct assignments
    (key_c = key_d is ground truth — the dirty feed is derived),
    precision over assignments and recall over the dirty feed, both
    floor-ppm.  Scale: ranks partition by record key (block-bounded
    candidate lists), the pattern join is 8 broadcast rows, and the
    summary is one aggregate."""
    from pyspark.sql.window import Window

    from ..io import swap_cache

    c = table(spark, sf_dir, "customer")
    cand = _clean_side(c).join(_dirty_side(c), ["blk_nation", "blk_bal"])
    scored_pat = record_linkage_fs(spark, sf_dir).select(
        "agree_name", "agree_bal", "agree_seg", "odds_ppm"
    )
    pairs = cand.select(
        "key_c",
        "key_d",
        (F.col("name_c") == F.col("name_d")).cast("int").alias("agree_name"),
        (F.col("bal_c") == F.col("bal_d")).cast("int").alias("agree_bal"),
        (F.col("seg_c") == F.col("seg_d")).cast("int").alias("agree_seg"),
    ).join(F.broadcast(scored_pat), ["agree_name", "agree_bal", "agree_seg"])
    pairs = swap_cache(
        "linkage.assign_pairs",
        pairs.select(
            "key_c",
            "key_d",
            F.coalesce("odds_ppm", F.lit(LNK_ODDS_INF))
            .cast("long")
            .alias("score"),
        ),
    )
    wc = Window.partitionBy("key_c").orderBy(
        F.desc("score"), F.asc("key_d")
    )
    wd = Window.partitionBy("key_d").orderBy(
        F.desc("score"), F.asc("key_c")
    )
    assigned = (
        pairs.withColumn("rc", F.row_number().over(wc))
        .withColumn("rd", F.row_number().over(wd))
        .filter((F.col("rc") == 1) & (F.col("rd") == 1))
    )
    n_dirty = _dirty_side(c).count()
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_candidates")
    ).crossJoin(
        assigned.agg(
            F.count("*").cast("long").alias("n_assigned"),
            F.sum((F.col("key_c") == F.col("key_d")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
    )
    return agg.select(
        "n_candidates",
        "n_assigned",
        "n_correct",
        F.expr("1000000 * n_correct DIV n_assigned")
        .cast("long")
        .alias("precision_ppm"),
        F.expr(f"1000000 * n_correct DIV {n_dirty}")
        .cast("long")
        .alias("recall_ppm"),
        F.lit(n_dirty).cast("long").alias("n_dirty_records"),
    )


def _assignment_oracle() -> str:
    return f"""
WITH fs AS MATERIALIZED ({_fs_oracle()}),
{_cand_sql()},
pairs AS MATERIALIZED (
  SELECT cand.key_c, cand.key_d,
         coalesce(fs.odds_ppm, {LNK_ODDS_INF}) AS score
  FROM cand
  JOIN fs ON fs.agree_name = CAST(cand.name_c = cand.name_d AS INT)
         AND fs.agree_bal = CAST(cand.bal_c = cand.bal_d AS INT)
         AND fs.agree_seg = CAST(cand.seg_c = cand.seg_d AS INT)),
ranked AS (
  SELECT key_c, key_d,
         row_number() OVER (PARTITION BY key_c
                            ORDER BY score DESC, key_d) AS rc,
         row_number() OVER (PARTITION BY key_d
                            ORDER BY score DESC, key_c) AS rd
  FROM pairs),
assigned AS (
  SELECT key_c, key_d FROM ranked WHERE rc = 1 AND rd = 1),
tot AS (
  SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_candidates,
         CAST((SELECT count(*) FROM assigned) AS BIGINT) AS n_assigned,
         CAST((SELECT count(*) FROM assigned WHERE key_c = key_d)
              AS BIGINT) AS n_correct,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_dirty_records)
SELECT n_candidates, n_assigned, n_correct,
       CAST(1000000 * n_correct // n_assigned AS BIGINT) AS precision_ppm,
       CAST(1000000 * n_correct // n_dirty_records AS BIGINT) AS recall_ppm,
       n_dirty_records
FROM tot
"""


#: the second source system's corruption rates (different salts and
#: rates than `_dirty_side` — two independently lossy feeds is the
#: shape that makes field survivorship non-degenerate)
LNK2_NAME_LOSS_PCT = 30
LNK2_BAL_OFFBYONE_PCT = 20
LNK2_SEG_LOSS_PCT = 15


def golden_record_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Field-level SURVIVORSHIP — the master-data-management step
    after matching: two source systems each hold a lossy copy of the
    same entity (feed A = the `_dirty_side` derivation, feed B = an
    independently-corrupted sibling with its own salts and rates);
    the golden record takes, per field, the surviving value — known
    beats UNKNOWN, agreement confirms, disagreement is a CONFLICT
    resolved by a deterministic rule (numeric: least value; the
    audit counts it either way).

    Output is the survivorship AUDIT (one row per field): how many
    entities each source alone rescued, how many both agreed on,
    how many conflicted, how many neither knew — the table an MDM
    operator reads to decide which source to trust per field.

    Scale shape: both feeds project off one customer scan, the merge
    is a key equi-join, and the audit is one aggregate — no window,
    no skew surface."""
    c = table(spark, sf_dir, "customer")
    a = _dirty_side(c).select(
        F.col("key_d").alias("k"),
        F.col("name_d").alias("name_a"),
        F.col("bal_d").alias("bal_a"),
        F.col("seg_d").alias("seg_a"),
    )
    bn = _hash_bucket(F.col("c_custkey"), "lnk2n|", 100)
    bb = _hash_bucket(F.col("c_custkey"), "lnk2b|", 100)
    bs = _hash_bucket(F.col("c_custkey"), "lnk2s|", 100)
    bal_b = F.floor(F.col("c_acctbal")).cast("long") + F.when(
        bb < LNK2_BAL_OFFBYONE_PCT, F.lit(1)
    ).otherwise(F.lit(0))
    b = c.select(
        F.col("c_custkey").alias("k"),
        F.when(bn < LNK2_NAME_LOSS_PCT, F.lit("UNKNOWN"))
        .otherwise(F.col("c_name"))
        .alias("name_b"),
        bal_b.alias("bal_b"),
        F.when(bs < LNK2_SEG_LOSS_PCT, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg_b"),
    )
    m = a.join(b, "k")

    def audit(fa: str, fb: str, field: str, unknown: str | None):
        if unknown is not None:
            ka = F.col(fa) != unknown
            kb = F.col(fb) != unknown
        else:
            ka = F.lit(True)
            kb = F.lit(True)
        agree = ka & kb & (F.col(fa) == F.col(fb))
        conflict = ka & kb & (F.col(fa) != F.col(fb))
        return m.agg(
            F.count("*").cast("long").alias("n_entities"),
            F.sum((ka & ~kb).cast("long")).cast("long").alias("from_a_only"),
            F.sum((~ka & kb).cast("long")).cast("long").alias("from_b_only"),
            F.sum(agree.cast("long")).cast("long").alias("n_agree"),
            F.sum(conflict.cast("long")).cast("long").alias("n_conflict"),
            F.sum((~ka & ~kb).cast("long")).cast("long").alias("n_missing"),
        ).select(F.lit(field).alias("field"), "*")

    return (
        audit("name_a", "name_b", "name", "UNKNOWN")
        .unionByName(audit("bal_a", "bal_b", "balance", None))
        .unionByName(audit("seg_a", "seg_b", "segment", "UNKNOWN"))
        .orderBy("field")
    )


def _survivorship_oracle() -> str:
    bn = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnk2n|", 100)
    bb = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnk2b|", 100)
    bs = _hash_bucket_sql("CAST(c_custkey AS VARCHAR)", "lnk2s|", 100)

    def leg(fa: str, fb: str, field: str, unknown: str | None) -> str:
        if unknown is not None:
            ka = f"({fa} != '{unknown}')"
            kb = f"({fb} != '{unknown}')"
        else:
            ka = "TRUE"
            kb = "TRUE"
        return f"""
SELECT '{field}' AS field,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(CASE WHEN {ka} AND NOT {kb} THEN 1 ELSE 0 END) AS BIGINT)
         AS from_a_only,
       CAST(sum(CASE WHEN NOT {ka} AND {kb} THEN 1 ELSE 0 END) AS BIGINT)
         AS from_b_only,
       CAST(sum(CASE WHEN {ka} AND {kb} AND {fa} = {fb}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       CAST(sum(CASE WHEN {ka} AND {kb} AND {fa} != {fb}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
       CAST(sum(CASE WHEN NOT {ka} AND NOT {kb} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_missing
FROM m"""

    feeds = _cand_sql().split(",\ncand AS")[0]
    return f"""
WITH {feeds},
b2 AS (
  SELECT c_custkey AS k,
         CASE WHEN ({bn}) < {LNK2_NAME_LOSS_PCT} THEN 'UNKNOWN'
              ELSE c_name END AS name_b,
         CAST(floor(c_acctbal) AS BIGINT)
           + CASE WHEN ({bb}) < {LNK2_BAL_OFFBYONE_PCT} THEN 1 ELSE 0 END
           AS bal_b,
         CASE WHEN ({bs}) < {LNK2_SEG_LOSS_PCT} THEN 'UNKNOWN'
              ELSE c_mktsegment END AS seg_b
  FROM customer),
m AS (
  SELECT d.key_d AS k, d.name_d AS name_a, d.bal_d AS bal_a,
         d.seg_d AS seg_a, b2.name_b, b2.bal_b, b2.seg_b
  FROM dirty d JOIN b2 ON d.key_d = b2.k)
{leg("name_a", "name_b", "name", "UNKNOWN")}
UNION ALL {leg("bal_a", "bal_b", "balance", None)}
UNION ALL {leg("seg_a", "seg_b", "segment", "UNKNOWN")}
ORDER BY 1
"""


#: odds thresholds swept (ppm): even odds, 10:1, 100:1, and the
#: infinite-evidence-only policy
LNK_T_PPM = (1_000_000, 10_000_000, 100_000_000, LNK_ODDS_INF)


def linkage_threshold_sensitivity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Match-threshold sensitivity for the Fellegi-Sunter linkage —
    the `dedup_threshold_sensitivity` discipline applied to ER: k
    declare-a-match odds cutoffs priced from ONE evidence pass (the
    certified 8-row agreement-pattern table carries every pair's
    score, so the sweep is arithmetic over patterns — never k
    candidate scans).  Per threshold: declared pairs, true matches
    among them, precision, and blocked recall (over the true matches
    the blocking admits — the blocking loss is `record_linkage_fs`'s
    concern, not the threshold's), all floor-ppm.

    This is the curve an ER operator reads to trade review workload
    (declared) against leakage (recall) before picking the cutoff
    the assignment step consumes."""
    from ..io import swap_cache

    # the 8-row evidence table feeds all k legs — cache it so the
    # candidate join runs once, not once per threshold
    ev = swap_cache(
        "linkage.threshold_ev",
        record_linkage_fs(spark, sf_dir).select(
            "n_pairs",
            "n_match",
            F.coalesce("odds_ppm", F.lit(LNK_ODDS_INF)).alias("odds_eff"),
        ),
    )
    totals = ev.agg(F.sum("n_match").cast("long").alias("tot_m"))
    out = None
    for t in LNK_T_PPM:
        leg = (
            ev.filter(F.col("odds_eff") >= t)
            .agg(
                F.coalesce(F.sum("n_pairs"), F.lit(0))
                .cast("long")
                .alias("n_declared"),
                F.coalesce(F.sum("n_match"), F.lit(0))
                .cast("long")
                .alias("n_correct"),
            )
            .crossJoin(F.broadcast(totals))
            .select(
                F.lit(t).cast("long").alias("t_ppm"),
                "n_declared",
                "n_correct",
                F.expr(
                    "CAST(CASE WHEN n_declared > 0 THEN"
                    " 1000000 * n_correct DIV n_declared"
                    " ELSE 0 END AS BIGINT)"
                ).alias("precision_ppm"),
                F.expr(
                    "CAST(1000000 * n_correct DIV tot_m AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _threshold_sensitivity_oracle() -> str:
    legs = []
    for t in LNK_T_PPM:
        legs.append(f"""
SELECT CAST({t} AS BIGINT) AS t_ppm,
       CAST(coalesce(sum(n_pairs), 0) AS BIGINT) AS n_declared,
       CAST(coalesce(sum(n_match), 0) AS BIGINT) AS n_correct,
       CAST(CASE WHEN coalesce(sum(n_pairs), 0) > 0
                 THEN 1000000 * sum(n_match) // sum(n_pairs)
                 ELSE 0 END AS BIGINT) AS precision_ppm,
       CAST(1000000 * coalesce(sum(n_match), 0)
            // (SELECT sum(n_match) FROM ev) AS BIGINT) AS recall_ppm
FROM ev WHERE coalesce(odds_ppm, {LNK_ODDS_INF}) >= {t}""")
    return f"""
WITH ev AS MATERIALIZED ({_fs_oracle()})
{" UNION ALL ".join(legs)}
"""


QUERIES = {
    "record_linkage_fs": record_linkage_fs,
    "linkage_greedy_assignment": linkage_greedy_assignment,
    "linkage_threshold_sensitivity": linkage_threshold_sensitivity,
    "golden_record_survivorship": golden_record_survivorship,
}

ORACLES = {
    "record_linkage_fs": _fs_oracle(),
    "linkage_greedy_assignment": _assignment_oracle(),
    "linkage_threshold_sensitivity": _threshold_sensitivity_oracle(),
    "golden_record_survivorship": _survivorship_oracle(),
}
