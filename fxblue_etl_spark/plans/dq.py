"""Data-quality audit: declarative constraint checks over the schema.

The reference enforces exactly one contract — required CSV columns
per record type (`CSV PARSER/gcp_csv.py:104-116`, SURVEY F1) — and
trusts the sink for the rest. A 100 TB lakehouse table has no
Postgres constraints to lean on, so the audit pass IS the contract:
uniqueness, nullability, referential integrity, and range checks run
as queries, and a violation count of zero is the merge gate.

Every check is a count aggregate or an anti-join — all exact integer
arithmetic, so the oracle contract has no float surface. Each check
scans its table once; the anti-joins broadcast nothing here (the
"dim" side is the key column of a fact) and are the same shuffle
shape a MERGE validation would pay anyway.

At scale the audit runs per-partition-increment (check only the
ingest delta), but the query shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table

#: sane business-date window for the orders fact
DATE_LO, DATE_HI = "1990-01-01", "2005-01-01"


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of violation counts; all-zero = contract holds.

    The per-table checks fuse into ONE conditional aggregate per
    table (a separate aggregate branch per check re-scans the fact
    each time — the scan_sweep finding); only the two referential
    checks pay joins, which no aggregate can express."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    o_stats = o.agg(
        (F.count("*") - F.count_distinct(F.col("o_orderkey"))).alias(
            "dup_orderkeys"
        ),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkeys"),
        F.count(
            F.when(
                (F.col("o_orderdate") < F.lit(DATE_LO).cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit(DATE_HI).cast("timestamp")),
                1,
            )
        ).alias("bad_dates"),
    )
    orphan_orders = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )
    orphan_lineitems = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count("*").alias("orphan_lineitems"))
    )
    bad_prices = li.agg(
        F.count(
            F.when(
                (F.col("l_extendedprice") <= 0)
                | (F.col("l_discount") < 0)
                | (F.col("l_discount") > 1),
                1,
            )
        ).alias("bad_prices")
    )
    out = o_stats
    for piece in (orphan_orders, orphan_lineitems, bad_prices):
        out = out.crossJoin(piece)
    return out.select(
        "dup_orderkeys",
        "null_custkeys",
        "orphan_orders",
        "orphan_lineitems",
        "bad_prices",
        "bad_dates",
    )


DQ_AUDIT_ORACLE = f"""
SELECT
  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS dup_orderkeys,
  (SELECT count(*) FILTER (o_custkey IS NULL) FROM orders) AS null_custkeys,
  (SELECT count(*) FROM orders o
     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    AS orphan_orders,
  (SELECT count(*) FROM lineitem l
     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS orphan_lineitems,
  (SELECT count(*) FILTER (l_extendedprice <= 0 OR l_discount < 0 OR l_discount > 1)
     FROM lineitem) AS bad_prices,
  (SELECT count(*) FILTER (o_orderdate < TIMESTAMP '{DATE_LO}'
                           OR o_orderdate >= TIMESTAMP '{DATE_HI}')
     FROM orders) AS bad_dates
"""



def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: per source, the exact KS statistic
    of its document-length distribution against the whole corpus,
    kept in integers by cross-multiplying the two CDFs
    (``|cum_s·n_all - cum_all·n_s|`` — the float KS is that divided
    by ``n_s·n_all``). The sources whose drift ppm tops the list are
    the ones whose scraping/cleaning changed.

    Scale: ONE corpus-sized map-side-combined count produces the
    (source, n_chars) stats grid — domain-bounded regardless of
    corpus size, persisted for the invocation (``io.swap_cache``)
    because the length set, source totals, corpus total, and both
    CDFs all derive from it (each as its own branch would re-run the
    corpus count); the CDF windows run on the grid."""
    from pyspark.sql.window import Window

    from ..io import swap_cache

    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    counts = swap_cache(
        "dq.drift",
        d.groupBy("source", "n_chars").agg(F.count("*").alias("n_sl")),
    )
    lens = counts.select("n_chars").distinct()
    sources = counts.groupBy("source").agg(
        F.sum("n_sl").cast("long").alias("n_s")
    )
    tot = counts.agg(F.sum("n_sl").cast("long").alias("n_all"))

    grid = sources.crossJoin(F.broadcast(lens))
    w_s = Window.partitionBy("source").orderBy("n_chars")
    cum_s = (
        grid.join(counts, ["source", "n_chars"], "left")
        .withColumn("n_sl", F.coalesce("n_sl", F.lit(0)))
        .withColumn("cum_s", F.sum("n_sl").over(w_s))
    )
    w_g = Window.orderBy("n_chars")
    cum_all = (
        counts.groupBy("n_chars")
        .agg(F.sum("n_sl").alias("n_l"))
        .withColumn("cum_all", F.sum("n_l").over(w_g))
        .select("n_chars", "cum_all")
    )
    return (
        cum_s.join(F.broadcast(cum_all), "n_chars")
        .crossJoin(F.broadcast(tot))  # 1-row scalar, broadcast by design
        .groupBy("source")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_s") * F.col("n_all")
                    - F.col("cum_all") * F.col("n_s")
                )
            )
            .cast("long")
            .alias("ks_num"),
            F.first("n_s").cast("long").alias("n_docs"),
            F.first("n_all").cast("long").alias("n_all"),
        )
        .select(
            "source",
            "n_docs",
            "ks_num",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * ks_num"
                " DIV (CAST(n_docs AS DECIMAL(38,0)) * n_all) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


LENGTH_DRIFT_ORACLE = """
WITH d AS (SELECT source, n_chars FROM documents),
counts AS (SELECT source, n_chars, count(*) AS n_sl FROM d GROUP BY 1, 2),
lens AS (SELECT DISTINCT n_chars FROM d),
sources AS (SELECT source, count(*) AS n_s FROM d GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d),
grid AS (SELECT s.source, s.n_s, l.n_chars FROM sources s CROSS JOIN lens l),
cum_s AS (
  SELECT g.source, g.n_s, g.n_chars,
         sum(coalesce(c.n_sl, 0)) OVER (PARTITION BY g.source
                                        ORDER BY g.n_chars) AS cum_s
  FROM grid g LEFT JOIN counts c
    ON c.source = g.source AND c.n_chars = g.n_chars),
cum_all AS (
  SELECT n_chars, sum(count(*)) OVER (ORDER BY n_chars) AS cum_all
  FROM d GROUP BY n_chars)
SELECT s.source,
       CAST(any_value(s.n_s) AS BIGINT) AS n_docs,
       CAST(max(abs(s.cum_s * t.n_all - a.cum_all * s.n_s)) AS BIGINT) AS ks_num,
       CAST(CAST(1000000 AS HUGEINT) * max(abs(s.cum_s * t.n_all - a.cum_all * s.n_s))
            // (CAST(any_value(s.n_s) AS HUGEINT) * any_value(t.n_all)) AS BIGINT) AS ks_ppm
FROM cum_s s JOIN cum_all a USING (n_chars), tot t
GROUP BY 1
"""


def order_totals_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: per order, the header total versus
    the recomputed line total ``Σ extendedprice·(1-discount)·(1+tax)``,
    bucketed by signed mismatch magnitude. Both sides floor-scale to
    e2 ints before differencing (floor of identical IEEE products is
    bit-exact cross-engine), so the bucket counts are exact — the
    audit a warehouse runs before trusting a denormalized header.

    Scale: one map-side-combined per-order aggregate, one
    co-partitioned key join, a handful of output groups."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem")
    line_tot = li.groupBy("l_orderkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            )
        )
        .cast("long")
        .alias("lines_e2")
    )
    j = o.join(
        line_tot, o["o_orderkey"] == line_tot["l_orderkey"], "left"
    ).select(
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("header_e2"),
        F.coalesce("lines_e2", F.lit(0)).alias("lines_e2"),
    )
    diff = F.col("header_e2") - F.col("lines_e2")
    bucket = (
        F.when(diff == 0, "exact")
        .when(F.abs(diff) <= 100, "within_1_unit")
        .when(diff > 0, "header_higher")
        .otherwise("lines_higher")
    )
    return j.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_orders"),
        F.sum(F.abs(diff)).cast("long").alias("abs_diff_e2_total"),
    )


RECONCILIATION_ORACLE = """
WITH line_tot AS (
  SELECT l_orderkey,
         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                             * 100) AS BIGINT)) AS BIGINT) AS lines_e2
  FROM lineitem GROUP BY 1),
j AS (
  SELECT CAST(floor(o.o_totalprice * 100) AS BIGINT) AS header_e2,
         coalesce(t.lines_e2, 0) AS lines_e2
  FROM orders o LEFT JOIN line_tot t ON t.l_orderkey = o.o_orderkey)
SELECT CASE WHEN header_e2 - lines_e2 = 0 THEN 'exact'
            WHEN abs(header_e2 - lines_e2) <= 100 THEN 'within_1_unit'
            WHEN header_e2 - lines_e2 > 0 THEN 'header_higher'
            ELSE 'lines_higher' END AS bucket,
       count(*) AS n_orders,
       CAST(sum(abs(header_e2 - lines_e2)) AS BIGINT) AS abs_diff_e2_total
FROM j
GROUP BY 1
"""


def supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-structure analytics: per nation, the Herfindahl index
    of supplier revenue concentration. Shares are integer ppm of the
    nation's exact e2 revenue (DIV — deterministic), HHI is the sum
    of squared ppm shares (≤1e12, no overflow) — the readout that
    flags a nation one supplier failure away from supply risk."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", F.floor(F.col("l_extendedprice") * 100).cast("long").alias("rev_e2")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_supp = (
        li.groupBy("l_suppkey")
        .agg(F.sum("rev_e2").cast("long").alias("rev_e2"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("n_name", "s_suppkey", "rev_e2")
    )
    nation_tot = per_supp.groupBy("n_name").agg(
        F.sum("rev_e2").cast("long").alias("nation_rev_e2"),
        F.count("*").alias("n_suppliers"),
    )
    shared = per_supp.join(F.broadcast(nation_tot), "n_name").select(
        "n_name",
        "n_suppliers",
        "nation_rev_e2",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * rev_e2"
            " DIV nation_rev_e2 AS BIGINT)"
        ).alias("share_ppm"),
    )
    return shared.groupBy("n_name").agg(
        F.first("n_suppliers").alias("n_suppliers"),
        F.first("nation_rev_e2").alias("nation_rev_e2"),
        F.sum(F.col("share_ppm") * F.col("share_ppm")).cast("long").alias("hhi_e12"),
        F.max("share_ppm").alias("top_share_ppm"),
    )


CONCENTRATION_ORACLE = """
WITH per_supp AS (
  SELECT n.n_name,
         l.l_suppkey,
         CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_e2
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2),
nation_tot AS (
  SELECT n_name, CAST(sum(rev_e2) AS BIGINT) AS nation_rev_e2,
         count(*) AS n_suppliers
  FROM per_supp GROUP BY 1),
shared AS (
  SELECT p.n_name, t.n_suppliers, t.nation_rev_e2,
         CAST(CAST(1000000 AS HUGEINT) * p.rev_e2 // t.nation_rev_e2 AS BIGINT) AS share_ppm
  FROM per_supp p JOIN nation_tot t USING (n_name))
SELECT n_name,
       any_value(n_suppliers) AS n_suppliers,
       any_value(nation_rev_e2) AS nation_rev_e2,
       CAST(sum(share_ppm * share_ppm) AS BIGINT) AS hhi_e12,
       CAST(max(share_ppm) AS BIGINT) AS top_share_ppm
FROM shared
GROUP BY 1
"""


#: every doc_id divisible by this is "requested for deletion" — the
#: deterministic stand-in for a GDPR/right-to-be-forgotten request table
GDPR_MOD = 97


def gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: given a (small)
    deletion-request set, remove those documents from the corpus AND
    from the derived chunk table, then certify per table that (a)
    exactly the requested rows left, and (b) zero rows referencing a
    deleted doc survive anywhere downstream.  The orphan count is
    computed genuinely (anti-join the surviving chunks against the
    surviving documents), not assumed.

    Scale shape: ONE corpus tokenize pass — the chunk table audits
    run off a per-doc chunk-count frame (doc-count-sized, persisted
    for the invocation via ``io.swap_cache`` because both the
    conditional aggregate and the orphan probe consume it); the
    document-table audit is one conditional aggregate over a
    doc_id-pruned scan.  The orphan count stays a genuine anti-join
    (surviving chunk docs probed against surviving documents), not an
    assumed zero.  The previous formulation audited each number with
    its own semi/anti-join branch — sixteen scans, four of them full
    tokenize passes.  One summary row per table."""
    from ..io import swap_cache
    from ..operators.textops import chunk_frame

    d = table(spark, sf_dir, "documents")
    is_del = F.col("doc_id") % GDPR_MOD == 0
    per_doc = swap_cache(
        "dq.gdpr",
        chunk_frame(d)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"))
        .withColumn("is_del", is_del.cast("int")),
    )
    doc_row = (
        d.select("doc_id")
        .agg(
            F.count("*").alias("n_before"),
            F.sum(is_del.cast("long")).cast("long").alias("n_deleted"),
            F.sum((~is_del).cast("long")).cast("long").alias("n_after"),
        )
        .select(
            F.lit("documents").alias("table_name"),
            "n_before",
            "n_deleted",
            "n_after",
            F.lit(0).cast("long").alias("n_orphans"),
        )
    )
    # genuine orphan probe: surviving chunk docs whose doc no longer
    # exists (counts chunk rows via the per-doc chunk counts)
    docs_after = d.filter(~is_del).select("doc_id")
    orphans = (
        per_doc.filter(F.col("is_del") == 0)
        .join(docs_after, "doc_id", "left_anti")
        .agg(
            F.coalesce(F.sum("n_chunks"), F.lit(0))
            .cast("long")
            .alias("n_orphans")
        )
    )
    chunk_row = (
        per_doc.agg(
            F.sum("n_chunks").cast("long").alias("n_before"),
            F.sum(F.when(F.col("is_del") == 1, F.col("n_chunks")).otherwise(0))
            .cast("long")
            .alias("n_deleted"),
            F.sum(F.when(F.col("is_del") == 0, F.col("n_chunks")).otherwise(0))
            .cast("long")
            .alias("n_after"),
        )
        .crossJoin(F.broadcast(orphans))
        .select(
            F.lit("chunks").alias("table_name"),
            "n_before",
            "n_deleted",
            "n_after",
            "n_orphans",
        )
    )
    return doc_row.unionByName(chunk_row)


def _gdpr_oracle() -> str:
    from ..operators.textops import CHUNK_STRIDE, CHUNK_TOKS

    return rf"""
WITH dele AS (SELECT doc_id FROM documents WHERE doc_id % {GDPR_MOD} = 0),
tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t != '') AS toks
  FROM documents),
chunks AS (
  SELECT doc_id
  FROM (SELECT doc_id,
               list_filter(range(0, greatest(len(toks) - 1, 0) + 1, {CHUNK_STRIDE}),
                           s -> s < len(toks)) AS starts
        FROM tk), unnest(starts) u(s)),
doc_stats AS (
  SELECT 'documents' AS table_name,
         (SELECT count(*) FROM documents) AS n_before,
         (SELECT count(*) FROM documents WHERE doc_id % {GDPR_MOD} = 0) AS n_deleted,
         (SELECT count(*) FROM documents WHERE doc_id % {GDPR_MOD} != 0) AS n_after,
         CAST(0 AS BIGINT) AS n_orphans),
chunk_stats AS (
  SELECT 'chunks' AS table_name,
         (SELECT count(*) FROM chunks) AS n_before,
         (SELECT count(*) FROM chunks WHERE doc_id % {GDPR_MOD} = 0) AS n_deleted,
         (SELECT count(*) FROM chunks WHERE doc_id % {GDPR_MOD} != 0) AS n_after,
         (SELECT CAST(count(*) AS BIGINT) FROM chunks c
          WHERE c.doc_id % {GDPR_MOD} != 0
            AND c.doc_id NOT IN (SELECT doc_id FROM documents
                                 WHERE doc_id % {GDPR_MOD} != 0)) AS n_orphans)
SELECT * FROM doc_stats UNION ALL SELECT * FROM chunk_stats
"""


GDPR_ORACLE = _gdpr_oracle()


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot corpus delta audit: classify every doc as
    added / removed / changed / unchanged between two dataset
    versions and account for the row and character mass of each class
    — the release-gate report a training-data pipeline publishes with
    every corpus vintage.

    Snapshots derive deterministically from the one fixture so both
    engines diff identical inputs: A drops doc_id % 13 == 0 (those
    are B's "adds"), B drops doc_id % 7 == 0 (A's "removes") and
    uppercases text where doc_id % 11 == 0 (the "changes").

    Scale shape: one full-outer equi-join on the id (AQE-handled),
    comparison by content hash, then a 4-row map-side-combined
    rollup; no windows, nothing pairwise."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )
    a = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id", F.md5("text").alias("h_a"), F.col("n_chars").alias("ch_a")
    )
    b = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
                F.col("text")
            )
        ).alias("h_b"),
        F.col("n_chars").alias("ch_b"),
    )
    diff = a.join(b, "doc_id", "full_outer").select(
        F.when(F.col("h_a").isNull(), "added")
        .when(F.col("h_b").isNull(), "removed")
        .when(F.col("h_a") != F.col("h_b"), "changed")
        .otherwise("unchanged")
        .alias("delta_class"),
        F.coalesce("ch_b", "ch_a").alias("n_chars"),
    )
    return diff.groupBy("delta_class").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("char_mass"),
    )


SNAPSHOT_DIFF_ORACLE = """
WITH docs AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
  FROM documents),
a AS (
  SELECT doc_id, md5(text) AS h_a, n_chars AS ch_a
  FROM docs WHERE doc_id % 13 != 0),
b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h_b,
         n_chars AS ch_b
  FROM docs WHERE doc_id % 7 != 0),
diff AS (
  SELECT CASE WHEN h_a IS NULL THEN 'added'
              WHEN h_b IS NULL THEN 'removed'
              WHEN h_a != h_b THEN 'changed'
              ELSE 'unchanged' END AS delta_class,
         coalesce(ch_b, ch_a) AS n_chars
  FROM a FULL OUTER JOIN b USING (doc_id))
SELECT delta_class, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS char_mass
FROM diff GROUP BY 1
"""


def file_metadata_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file ingest lineage via the ``_metadata`` hidden column
    (Spark ≥3.4's structured successor to ``input_file_name()``):
    file name, per-file row span from ``_metadata.row_index``, file
    and a key checksum — the audit row an ingest ledger records per
    source file (the reference logs exactly this per blob,
    `CSV PARSER/gcp_csv.py:195-198`).

    ``row_index`` counts rows WITHIN each file, so ``max+1 == count``
    certifies the reader saw every row of every file exactly once —
    the lineage invariant that catches partial/duplicated file reads
    after a task retry.

    Oracle note: the fixture contract is one parquet file per table
    (TESTDATA.md), so the oracle states the file-shape expectation
    literally; a multi-file vintage would re-shape rows (a loud
    rowcount diff, not a silent pass)."""
    import os as _os

    d = spark.read.parquet(_os.path.join(sf_dir, "documents.parquet"))
    return (
        d.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"([^/]+)$", 1).alias(
                "file_name"
            ),
            F.col("_metadata.row_index").alias("row_index"),
            "doc_id",
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("row_index").cast("long").alias("first_row_index"),
            F.max("row_index").cast("long").alias("last_row_index"),
            F.sum("doc_id").cast("long").alias("doc_id_sum"),
        )
    )


FILE_METADATA_ORACLE = """
SELECT 'documents.parquet' AS file_name,
       count(*) AS n_rows,
       CAST(0 AS BIGINT) AS first_row_index,
       CAST(count(*) - 1 AS BIGINT) AS last_row_index,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum
FROM documents
"""


#: "already-ingested" cut for the incremental-maintenance demo: order
#: keys below the cut are the standing snapshot, the rest arrive as
#: the increment
INCR_CUT_FRACTION = 0.8


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the standing per-status
    totals are NOT recomputed when new orders arrive — the increment
    is aggregated alone and MERGED with the standing partial state
    (count ⊕ count, sum ⊕ sum, min/max ⊕ min/max).  This is the
    pattern that turns a daily 100 TB full recompute into an
    O(increment) job, and it is exactly the algebra Spark's own
    partial aggregation relies on — certified here end-to-end against
    an oracle that aggregates the full table directly: merge-of-
    partials must be indistinguishable from recompute.

    The split replays ingest order (orderkey below/above the 80%
    cut); both partials share one scan lineage, and the merge is an
    aggregate over a 2×groups-row union — driver-free and tiny.

    Reference parity: the reference re-upserts only newly listed
    blobs per run (`CSV PARSER/gcp_csv.py:203-211`) but recomputes
    nothing downstream; this adds the maintained-aggregate layer a
    warehouse on those tables needs."""
    o = table(spark, sf_dir, "orders")
    cut = o.agg(
        F.expr(f"percentile_disc({INCR_CUT_FRACTION}) WITHIN GROUP (ORDER BY o_orderkey)")
    ).collect()[0][0]
    base = o.filter(F.col("o_orderkey") <= cut)
    incr = o.filter(F.col("o_orderkey") > cut)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
            F.min("o_orderdate").alias("dmin"),
            F.max("o_orderdate").alias("dmax"),
        )

    merged = (
        partial(base)
        .unionByName(partial(incr))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("price_cents"),
            F.min("dmin").cast("string").alias("first_date"),
            F.max("dmax").cast("string").alias("last_date"),
        )
    )
    return merged


#: recompute-from-scratch truth: merge-of-partials must match exactly
INCREMENTAL_AGG_ORACLE = """
SELECT o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date,
       CAST(max(o_orderdate) AS VARCHAR) AS last_date
FROM orders
GROUP BY 1
"""


def ivm_delete_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE-side incremental view maintenance — the retraction
    sibling of ``incremental_agg_maintenance`` (which certifies
    append merges): when a delete batch lands (here the GDPR-style
    ``o_orderkey % 10 == 3`` cohort), the maintained per-status
    totals are repaired WITHOUT a full recompute:

    - INVERTIBLE aggregates (count, integer sum) retract by plain
      subtraction of the delete batch's own partial — O(batch);
    - NON-invertible aggregates (min/max) cannot subtract: the
      standing extreme is re-derived ONLY for groups whose deleted
      batch touched it (deleted-min == standing-min or deleted-max
      == standing-max) — the bounded re-read every real IVM engine
      (Materialize, DBSP, Flink retract streams) performs for
      MIN/MAX, made visible here by the ``minmax_repaired`` flag.

    The oracle recomputes the retained rows from scratch and replays
    the repair-flag predicate — maintenance must be indistinguishable
    from recompute, including WHICH groups needed the repair path.

    Scale: two partial aggregates (standing + delete batch), one
    groups-sized broadcast of the repair set, and one filtered
    re-aggregate over only the repaired groups' retained rows."""
    o = table(spark, sf_dir, "orders")
    dels = o.filter(F.col("o_orderkey") % 10 == 3)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents"),
            F.min("o_orderdate").alias("dmin"),
            F.max("o_orderdate").alias("dmax"),
        )

    standing = partial(o)
    dpart = partial(dels).select(
        "o_orderstatus",
        F.col("n").alias("n_d"),
        F.col("cents").alias("cents_d"),
        F.col("dmin").alias("dmin_d"),
        F.col("dmax").alias("dmax_d"),
    )
    from ..io import swap_cache

    # persist the groups-sized merged state: its two consumers (the
    # repair key set and the final assembly) otherwise re-ran both
    # partial aggregates each — 5 orders scans in this plan (r14
    # scan sweep; guide §2.4); 3 after (standing + delete partial +
    # the bounded repair re-read, the documented IVM minimum)
    merged = swap_cache(
        "dq.ivm_del_merged",
        standing.join(F.broadcast(dpart), "o_orderstatus", "left").select(
        "o_orderstatus",
        (F.col("n") - F.coalesce(F.col("n_d"), F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (F.col("cents") - F.coalesce(F.col("cents_d"), F.lit(0)))
        .cast("long")
        .alias("price_cents"),
        "dmin",
        "dmax",
        (
            (F.col("dmin_d") == F.col("dmin"))
            | (F.col("dmax_d") == F.col("dmax"))
        )
        .cast("int")
        .alias("minmax_repaired"),
        ).na.fill({"minmax_repaired": 0}),
    )
    repair_keys = merged.filter(F.col("minmax_repaired") == 1).select(
        "o_orderstatus"
    )
    repaired = (
        o.filter(F.col("o_orderkey") % 10 != 3)
        .join(F.broadcast(repair_keys), "o_orderstatus", "left_semi")
        .groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("rmin"),
            F.max("o_orderdate").alias("rmax"),
        )
    )
    return (
        merged.join(F.broadcast(repaired), "o_orderstatus", "left")
        # a delete cohort that empties a whole group DROPS the group
        # (matching the recompute oracle, which never sees it);
        # without this the maintained side would emit n_orders=0
        # with extremes coalesced to the deleted rows' dates
        # (round-12 advice item 2 — unreachable on the TPC-H
        # fixture, latent on degenerate data)
        .filter(F.col("n_orders") > 0)
        .select(
            "o_orderstatus",
            "n_orders",
            "price_cents",
            F.coalesce(F.col("rmin"), F.col("dmin"))
            .cast("string")
            .alias("first_date"),
            F.coalesce(F.col("rmax"), F.col("dmax"))
            .cast("string")
            .alias("last_date"),
            "minmax_repaired",
        )
    )


IVM_DELETE_ORACLE = """
WITH dels AS (SELECT * FROM orders WHERE o_orderkey % 10 = 3),
standing AS (
  SELECT o_orderstatus, min(o_orderdate) AS dmin, max(o_orderdate) AS dmax
  FROM orders GROUP BY 1),
dmm AS (
  SELECT o_orderstatus, min(o_orderdate) AS dmin_d, max(o_orderdate) AS dmax_d
  FROM dels GROUP BY 1)
SELECT r.o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(r.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(min(r.o_orderdate) AS VARCHAR) AS first_date,
       CAST(max(r.o_orderdate) AS VARCHAR) AS last_date,
       CAST(coalesce(max(CASE WHEN m.dmin_d = s.dmin
                               OR m.dmax_d = s.dmax THEN 1 ELSE 0 END), 0)
            AS INT) AS minmax_repaired
FROM orders r
JOIN standing s USING (o_orderstatus)
LEFT JOIN dmm m USING (o_orderstatus)
WHERE r.o_orderkey % 10 != 3
GROUP BY 1
"""


def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance — the denormalized-view sibling of
    ``incremental_agg_maintenance``: when a delta batch of orders
    arrives, only the DELTA is joined against the customer dimension;
    the standing view's partial aggregates are merged with the
    delta's, never recomputed.  At 100 TB this is the difference
    between an O(delta)·broadcast job and re-shuffling the whole
    fact; it is sound because an inner equi-join distributes over
    union (orders = base ∪ delta ⇒ orders ⋈ dim =
    (base ⋈ dim) ∪ (delta ⋈ dim)) and the per-nation summary is an
    algebraic aggregate (count ⊕, sum ⊕, min/max ⊕).

    The split replays ingest order (orderkey below/above the
    INCR_CUT_FRACTION quantile, as in the agg sibling); both legs
    broadcast the dim; the merge aggregates a 2×nations-row union.
    The oracle recomputes the full join from scratch — maintenance
    must be indistinguishable from recompute."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cut = o.agg(
        F.expr(
            f"percentile_disc({INCR_CUT_FRACTION}) WITHIN GROUP (ORDER BY o_orderkey)"
        )
    ).collect()[0][0]

    def joined_partial(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(c), df.o_custkey == c.c_custkey)
            .groupBy("c_nationkey")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.floor(F.col("o_totalprice") * 100))
                .cast("long")
                .alias("cents"),
                F.sum("o_orderkey").cast("long").alias("key_ck"),
            )
        )

    base = joined_partial(o.filter(F.col("o_orderkey") <= cut))
    delta = joined_partial(o.filter(F.col("o_orderkey") > cut))
    return (
        base.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("price_cents"),
            F.sum("key_ck").cast("long").alias("orderkey_checksum"),
        )
        .select(
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            "n_orders",
            "price_cents",
            "orderkey_checksum",
        )
    )


#: recompute-from-scratch truth for the maintained join
INCREMENTAL_JOIN_ORACLE = """
SELECT CAST(c.c_nationkey AS INT) AS c_nationkey,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(sum(o.o_orderkey) AS BIGINT) AS orderkey_checksum
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


#: session-IVM geometry: a 24 h inactivity gap (visit grain) and the
#: median event-time cut.  The 30-minute grain of
#: ``sessionize_events`` would leave the boundary-merge branch DEAD
#: on this fixture (measured: the minimum cross-cut user gap at
#: sf0.01 is ~4 h, so no user ever merges and the contract would
#: certify only the trivial path); at the visit grain 91/150 users
#: take the merge branch, so the repair algebra is actually
#: exercised.  The gap is a knob, not a semantic
#: (session_gap_sensitivity sweeps it); the IVM algebra is
#: grain-independent.
SESS_IVM_GAP_S = 86400


def incremental_session_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Append-side IVM for SESSIONIZATION — the non-algebraic member
    of the incremental-maintenance family: counts and sums merge by
    ⊕ (`incremental_agg_maintenance`), but a session is a
    gaps-and-islands construct, so appending events can MERGE the
    standing tail session with the delta's head session.  The repair
    is still O(delta): per user, only the LAST standing session can
    be affected (delta sessions after the first are separated by
    > gap inside the delta by construction), so the maintained
    per-user summary needs exactly one boundary test —
    first_delta_ts − last_base_ts ≤ gap ⇒ n_sessions =
    base + delta − 1, else base + delta.

    This is the stateful-session analogue of what
    `streaming_session_windows` does with a state store, certified
    here as relational algebra: the oracle recomputes sessionization
    over the full table AND replays which users took the
    boundary-merge path.

    Scale shape: two per-user window passes (each over its own
    partition of the data, O(base)+O(delta) — never the full table
    twice), one users-sized join for the boundary test.  At 100 TB
    the delta pass is the only recurring cost."""
    e = table(spark, sf_dir, "events")
    # the cut lives on floored epoch SECONDS (percentile_disc needs a
    # numeric; the second grain is also what the gap algebra uses, so
    # both engines bucket the boundary identically)
    cut_s = e.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP"
            " (ORDER BY CAST(ts AS LONG))"
        )
    ).collect()[0][0]
    base = e.filter(F.col("ts").cast("long") <= cut_s)
    delta = e.filter(F.col("ts").cast("long") > cut_s)

    def summarize(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.asc("ts"), F.asc("event_id")
        )
        gap = F.col("ts").cast("long") - F.lag(
            F.col("ts").cast("long")
        ).over(w)
        new_sess = (gap.isNull() | (gap > SESS_IVM_GAP_S)).cast("int")
        return (
            df.withColumn("ns", new_sess)
            .groupBy("user_id")
            .agg(
                F.sum("ns").cast("long").alias("n_sessions"),
                F.count("*").cast("long").alias("n_events"),
                F.min(F.col("ts").cast("long")).alias("first_s"),
                F.max(F.col("ts").cast("long")).alias("last_s"),
            )
        )

    b = summarize(base).select(
        "user_id",
        F.col("n_sessions").alias("nb"),
        F.col("n_events").alias("eb"),
        F.col("last_s").alias("last_b"),
    )
    d = summarize(delta).select(
        "user_id",
        F.col("n_sessions").alias("nd"),
        F.col("n_events").alias("ed"),
        F.col("first_s").alias("first_d"),
    )
    merged = b.join(d, "user_id", "full").select(
        "user_id",
        (
            F.coalesce(F.col("nb"), F.lit(0))
            + F.coalesce(F.col("nd"), F.lit(0))
            - F.when(
                F.col("last_b").isNotNull()
                & F.col("first_d").isNotNull()
                & (
                    F.col("first_d") - F.col("last_b")
                    <= SESS_IVM_GAP_S
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_sessions"),
        (
            F.coalesce(F.col("eb"), F.lit(0))
            + F.coalesce(F.col("ed"), F.lit(0))
        )
        .cast("long")
        .alias("n_events"),
        (
            F.col("last_b").isNotNull()
            & F.col("first_d").isNotNull()
            & (F.col("first_d") - F.col("last_b") <= SESS_IVM_GAP_S)
        )
        .cast("int")
        .alias("boundary_merged"),
    )
    return merged.orderBy("user_id")


SESSION_IVM_ORACLE = f"""
WITH cut AS (
  SELECT quantile_disc(CAST(floor(epoch(ts)) AS BIGINT), 0.5) AS c
  FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC))) AS BIGINT)
                   > {SESS_IVM_GAP_S}
                   OR lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
recomputed AS (
  SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
         CAST(count(*) AS BIGINT) AS n_events
  FROM marked GROUP BY 1),
bounds AS (
  SELECT user_id,
         max(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       <= (SELECT c FROM cut)
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS last_b,
         min(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                       > (SELECT c FROM cut)
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_d
  FROM events GROUP BY 1)
SELECT r.user_id, r.n_sessions, r.n_events,
       CAST(CASE WHEN b.last_b IS NOT NULL AND b.first_d IS NOT NULL
                  AND b.first_d - b.last_b <= {SESS_IVM_GAP_S}
            THEN 1 ELSE 0 END AS INT) AS boundary_merged
FROM recomputed r JOIN bounds b ON r.user_id = b.user_id
ORDER BY 1
"""


#: k-anonymity / l-diversity thresholds (Sweeney 2002; Machanavajjhala
#: et al. 2007): a quasi-identifier group with fewer than K members is
#: re-identifiable; one whose sensitive attribute takes fewer than L
#: distinct values leaks it even at k >= K
K_ANON_K = 5
L_DIVERSITY_L = 2
#: account-balance coarsening width for the quasi-identifier (exact
#: balances are near-unique and would make every group singleton)
BAL_BUCKET_WIDTH = 1000


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer dimension —
    the privacy-risk gate a shareable training corpus (or any released
    extract) runs before publication, complementing `pii_scrub` (which
    redacts direct identifiers; this measures INDIRECT
    re-identification risk through quasi-identifier combinations).

    Quasi-identifier = (nationkey, mktsegment, coarsened balance
    bucket); sensitive attribute = the customer's order priorities
    (left join so orderless customers still count toward k with l=0).
    One row per QI group: k (distinct customers), l (distinct
    priorities), and the two risk flags.  Plan: one left join
    (shuffle on custkey — the fact side's natural key) feeding one
    hash aggregate with two count-distincts; at 100 TB the audit runs
    on the release delta with the identical shape, and the QI
    grouping keys are low-cardinality so the final agg is tiny.
    Exact integer contract end to end — the only float op is the
    IEEE-identical floor(balance / width)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    qi = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / BAL_BUCKET_WIDTH)
        .cast("long")
        .alias("bal_bucket"),
    )
    joined = qi.join(
        o.select("o_custkey", "o_orderpriority"),
        qi.c_custkey == F.col("o_custkey"),
        "left",
    )
    k, l = F.col("k_customers"), F.col("l_priorities")
    return (
        joined.groupBy("nationkey", "mktsegment", "bal_bucket")
        .agg(
            F.count_distinct("c_custkey").cast("long").alias("k_customers"),
            F.count_distinct("o_orderpriority")
            .cast("long")
            .alias("l_priorities"),
        )
        .select(
            "nationkey",
            "mktsegment",
            "bal_bucket",
            "k_customers",
            "l_priorities",
            (k < K_ANON_K).cast("int").alias("at_risk_k"),
            (l < L_DIVERSITY_L).cast("int").alias("at_risk_l"),
        )
    )


K_ANONYMITY_ORACLE = f"""
WITH qi AS (
  SELECT c_custkey,
         c_nationkey AS nationkey,
         c_mktsegment AS mktsegment,
         CAST(floor(c_acctbal / {BAL_BUCKET_WIDTH}) AS BIGINT) AS bal_bucket
  FROM customer),
j AS (
  SELECT qi.nationkey, qi.mktsegment, qi.bal_bucket, qi.c_custkey,
         o.o_orderpriority
  FROM qi LEFT JOIN orders o ON qi.c_custkey = o.o_custkey)
SELECT nationkey, mktsegment, bal_bucket,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS k_customers,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS l_priorities,
       CASE WHEN count(DISTINCT c_custkey) < {K_ANON_K}
            THEN 1 ELSE 0 END AS at_risk_k,
       CASE WHEN count(DISTINCT o_orderpriority) < {L_DIVERSITY_L}
            THEN 1 ELSE 0 END AS at_risk_l
FROM j
GROUP BY 1, 2, 3
"""


#: t-closeness risk threshold (ppm of the [0,1] EMD scale): groups
#: whose ordered-priority distribution sits further than 0.15 from
#: the corpus distribution are flagged
T_CLOSE_T_PPM = 150_000


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third member of the release-privacy
    ladder (`pii_scrub` redacts direct identifiers, `k_anonymity_audit`
    measures group sizes and l-diversity, this measures DISTRIBUTION
    leakage): even a k-anonymous, l-diverse group leaks if its
    sensitive-attribute distribution differs sharply from the
    corpus's (Li et al., ICDE 2007).  Distance = the Earth Mover's
    Distance over the ORDERED sensitive attribute (order priority,
    '1-URGENT' < .. < '5-LOW'), EMD = Σ|cumP − cumQ| / (m−1) — kept
    integer-exact by cross-multiplying the cumulative shares:
    t_num = Σ_i |cumG_i·N − cumC_i·n_g|, t_ppm = 1e6·t_num DIV
    (n_g·N·(m−1)) in DECIMAL(38,0).

    Rows = (customer QI, order priority) pairs — the released fact
    grain; orderless customers carry no sensitive value and are
    measured by the k-anonymity audit instead.  Scale: one custkey
    shuffle, a groups×m grid (m = 5 priorities) via broadcast, all
    windows bounded by m."""
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rows = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / BAL_BUCKET_WIDTH)
        .cast("long")
        .alias("bal_bucket"),
    ).join(
        o.select("o_custkey", F.col("o_orderpriority").alias("pri")),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    wp = Window.orderBy("pri")
    corpus = (
        rows.groupBy("pri")
        .agg(F.count("*").cast("long").alias("cc"))
        .select(
            "pri",
            F.sum("cc").over(
                wp.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("ccum"),
            F.sum("cc").over(
                wp.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n_corpus"),
            F.count("*").over(
                wp.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).cast("long").alias("m"),
        )
    )
    keys = ["nationkey", "mktsegment", "bal_bucket"]
    groups = rows.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    gcnt = rows.groupBy(*keys, "pri").agg(
        F.count("*").cast("long").alias("gc")
    )
    grid = (
        groups.crossJoin(F.broadcast(corpus))
        .join(gcnt, keys + ["pri"], "left")
        .fillna(0, ["gc"])
    )
    wg = Window.partitionBy(*keys).orderBy("pri")
    per = grid.select(
        *keys,
        "n_rows",
        "n_corpus",
        "m",
        "pri",
        "ccum",
        F.sum("gc").over(
            wg.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("gcum"),
    ).filter(
        # the last cumulative step is identically zero (both CDFs hit
        # 1) — EMD sums the first m−1 steps
        F.col("ccum") < F.col("n_corpus")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return (
        per.groupBy(*keys, "n_rows", "n_corpus", "m")
        .agg(
            F.sum(
                F.abs(
                    F.col("gcum") * F.col("n_corpus")
                    - F.col("ccum") * F.col("n_rows")
                )
            )
            .cast("long")
            .alias("t_num")
        )
        .select(
            *keys,
            "n_rows",
            "t_num",
            F.expr(
                f"CAST(({dec.format('1000000')} * t_num)"
                f" DIV ({dec.format('n_rows')} * n_corpus * (m - 1))"
                " AS BIGINT)"
            ).alias("t_ppm"),
        )
        .withColumn(
            "at_risk_t",
            (F.col("t_ppm") > T_CLOSE_T_PPM).cast("int"),
        )
    )


T_CLOSENESS_ORACLE = f"""
WITH rows_v AS (
  SELECT c.c_nationkey AS nationkey, c.c_mktsegment AS mktsegment,
         CAST(floor(c.c_acctbal / {BAL_BUCKET_WIDTH}) AS BIGINT)
           AS bal_bucket,
         o.o_orderpriority AS pri
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey),
corpus AS (
  SELECT pri,
         CAST(sum(count(*)) OVER (ORDER BY pri
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS ccum,
         CAST(sum(count(*)) OVER () AS BIGINT) AS n_corpus,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM rows_v GROUP BY pri),
groups AS (
  SELECT nationkey, mktsegment, bal_bucket,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM rows_v GROUP BY 1, 2, 3),
gcnt AS (
  SELECT nationkey, mktsegment, bal_bucket, pri,
         CAST(count(*) AS BIGINT) AS gc
  FROM rows_v GROUP BY 1, 2, 3, 4),
per AS (
  SELECT g.nationkey, g.mktsegment, g.bal_bucket, g.n_rows,
         c.n_corpus, c.m, c.pri, c.ccum,
         sum(coalesce(x.gc, 0)) OVER (
           PARTITION BY g.nationkey, g.mktsegment, g.bal_bucket
           ORDER BY c.pri
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gcum
  FROM groups g
  CROSS JOIN corpus c
  LEFT JOIN gcnt x
    ON x.nationkey = g.nationkey AND x.mktsegment = g.mktsegment
   AND x.bal_bucket = g.bal_bucket AND x.pri = c.pri),
agg AS (
  SELECT nationkey, mktsegment, bal_bucket, n_rows, n_corpus, m,
         CAST(sum(abs(gcum * n_corpus - ccum * n_rows)) AS BIGINT)
           AS t_num
  FROM per
  WHERE ccum < n_corpus
  GROUP BY 1, 2, 3, 4, 5, 6)
SELECT nationkey, mktsegment, bal_bucket, n_rows, t_num,
       CAST((CAST(1000000 AS HUGEINT) * t_num)
            // (CAST(n_rows AS HUGEINT) * n_corpus * (m - 1))
            AS BIGINT) AS t_ppm,
       CAST(CAST((CAST(1000000 AS HUGEINT) * t_num)
            // (CAST(n_rows AS HUGEINT) * n_corpus * (m - 1))
            AS BIGINT) > {T_CLOSE_T_PPM} AS INT) AS at_risk_t
FROM agg
"""


#: truncated two-sided geometric ("discrete Laplace") mechanism with
#: ratio alpha = 1/2 (epsilon = ln 2 per released count): P(0) ∝ 2^B,
#: P(±k) ∝ 2^(B-k), truncated at ±B and renormalized over the exact
#: integer domain sum(sizes) — every threshold is a precomputed
#: integer, so the noise draw is pure integer arithmetic in both
#: engines (no exp/log floats anywhere)
DP_TRUNC = 10
_DP_SIZES: list[tuple[int, int]] = [
    (k, 2 ** (DP_TRUNC - abs(k)) if k else 2**DP_TRUNC)
    for k in range(-DP_TRUNC, DP_TRUNC + 1)
]
DP_DOMAIN = sum(s for _, s in _DP_SIZES)  # 3070 = 2^10 + 2·(2^10 - 1)


def _dp_thresholds() -> list[tuple[int, int]]:
    """(cumulative_threshold, noise) pairs in ascending order."""
    acc, out = 0, []
    for k, s in _DP_SIZES:
        acc += s
        out.append((acc, k))
    return out


def dp_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release histogram — the third member of
    the privacy-gate family (`pii_scrub` redacts direct identifiers,
    `k_anonymity_audit` measures indirect risk; this NOISES the
    released aggregate itself): per-(lang, source) corpus counts with
    truncated-geometric noise (the discrete analogue of the Laplace
    mechanism, Ghosh/Roughgarden/Sundararajan 2009) at alpha = 1/2,
    plus the non-negativity post-processing clamp a published
    histogram applies.

    The noise draw is DETERMINISTIC keyed randomness — the group
    key's md5 bucket pushed through the mechanism's exact integer
    inverse-CDF ladder (precomputed thresholds, no exp/log) — so the
    DuckDB oracle replays the identical draw and certifies the
    mechanism's algebra bit-for-bit.  A production deployment swaps
    the keyed hash for secret randomness; everything else (ladder,
    truncation, clamp, sensitivity-1 count contract) is exactly this
    plan.  Scale: one low-cardinality hash aggregate over the corpus;
    the noise is a row-local CASE over ~21 integer thresholds."""
    from ..operators.corpusops import _hash_bucket

    d = table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count("*").cast("long").alias("true_n"))
    u = _hash_bucket(
        F.concat(F.col("lang"), F.lit("|"), F.col("source")), "dp|", DP_DOMAIN
    )
    noise = None
    for thr, k in _dp_thresholds():
        noise = (
            F.when(u < thr, k) if noise is None else noise.when(u < thr, k)
        )
    noise = noise.cast("long")
    return g.select(
        "lang",
        "source",
        "true_n",
        noise.alias("noise"),
        F.greatest(F.lit(0).cast("long"), F.col("true_n") + noise).alias(
            "released_n"
        ),
        F.abs(noise).alias("abs_err"),
    )


def _dp_noise_case_sql(u_sql: str) -> str:
    branches = " ".join(
        f"WHEN ({u_sql}) < {thr} THEN {k}" for thr, k in _dp_thresholds()
    )
    return f"CASE {branches} END"


def _dp_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    u = _hash_bucket_sql("lang || '|' || source", "dp|", DP_DOMAIN)
    noise = _dp_noise_case_sql(u)
    return f"""
WITH g AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS true_n
  FROM documents GROUP BY 1, 2)
SELECT lang, source, true_n,
       CAST({noise} AS BIGINT) AS noise,
       greatest(CAST(0 AS BIGINT), true_n + CAST({noise} AS BIGINT))
         AS released_n,
       CAST(abs({noise}) AS BIGINT) AS abs_err
FROM g
"""


#: Merkle digest geometry: key-aligned leaf blocks, fan-in per level
MKL_BLOCK = 512
MKL_FANIN = 16
#: deterministic delta: blocks whose id hashes under this rate carry
#: changed rows; within such a block, rows hashing under the row rate
MKL_BLOCK_PCT = 10
MKL_ROW_PCT = 20


def merkle_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-tree snapshot diff — the sync primitive `corpus_snapshot_diff`
    scales on: instead of diffing ROWS, two table versions exchange
    O(log n) level digests and recurse only into subtrees whose
    digests differ, so an incremental replicator moves 10 changed
    blocks, not the table.  This computes both versions' leaf and
    root digests and emits exactly the differing leaf blocks plus
    the tree-level summary.

    Version B derives deterministically from orders (keyed md5: ~10%
    of key-aligned blocks carry rows with a one-cent price shift), so
    both engines diff identical inputs.  Digests are
    order-canonical: leaf = md5 of the block's SORTED row hashes
    concatenated; parent = md5 of child digests in block order — any
    engine that sorts equally computes equal digests, which is the
    portability claim the oracle certifies.

    Scale shape: one shuffle per level with fan-in MKL_FANIN (level
    sizes n/512, n/8k, …); the diff join runs on block digests, not
    rows.  At 100 TB the leaf digests ARE the stored manifest and
    only level-0 recompute touches changed partitions."""
    from ..operators.corpusops import _hash_bucket

    o = table(spark, sf_dir, "orders")
    blk = F.expr(f"o_orderkey DIV {MKL_BLOCK}")
    b_blk = _hash_bucket(blk, "mklb|", 100)
    b_row = _hash_bucket(F.col("o_orderkey"), "mklr|", 100)
    shifted = F.when(
        (b_blk < MKL_BLOCK_PCT) & (b_row < MKL_ROW_PCT),
        F.floor(F.col("o_totalprice") * 100).cast("long") + 1,
    ).otherwise(F.floor(F.col("o_totalprice") * 100).cast("long"))

    def rows(version: str, cents) -> DataFrame:
        return o.select(
            blk.cast("long").alias("block_id"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_orderstatus"),
                    cents.cast("string"),
                    F.col("o_orderdate").cast("string"),
                )
            ).alias("rh"),
        ).withColumn("version", F.lit(version))

    both = rows("a", F.floor(F.col("o_totalprice") * 100).cast("long")).unionByName(
        rows("b", shifted)
    )
    # persist the leaf manifest (blocks-sized, n/MKL_BLOCK — exactly
    # the artifact a real replicator stores): its three consumers
    # (the two diff sides and the root rollup) each re-ran BOTH
    # versions' full-table row-hash passes un-persisted — the r14
    # scan sweep measured 10 orders scans in this one plan
    # (guide §2.4)
    from ..io import swap_cache

    leaves = swap_cache(
        "dq.merkle_leaves",
        both.groupBy("version", "block_id").agg(
            F.md5(
                F.concat_ws("", F.sort_array(F.collect_list("rh")))
            ).alias("dg"),
            F.count("*").cast("long").alias("n_rows"),
        ),
    )
    # roll up to the root: parent digest = md5 of child digests in
    # block order (collect_list is order-nondeterministic, so sort
    # structs of (child_id, digest) — canonical in both engines)
    def rollup(lv: DataFrame) -> DataFrame:
        return (
            lv.withColumn("pid", F.expr(f"block_id DIV {MKL_FANIN}"))
            .groupBy("version", F.col("pid").alias("block_id"))
            .agg(
                F.md5(
                    F.concat_ws(
                        "",
                        F.transform(
                            F.sort_array(
                                F.collect_list(F.struct("block_id", "dg"))
                            ),
                            lambda s: s["dg"],
                        ),
                    )
                ).alias("dg")
            )
        )

    lvl2 = rollup(rollup(leaves.select("version", "block_id", "dg")))
    root = lvl2.groupBy("version").agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("block_id", "dg"))),
                    lambda s: s["dg"],
                ),
            )
        ).alias("root_dg")
    )
    la = leaves.filter("version = 'a'").select(
        "block_id", F.col("dg").alias("dg_a"), F.col("n_rows").alias("n_rows_a")
    )
    lb = leaves.filter("version = 'b'").select(
        "block_id", F.col("dg").alias("dg_b"), F.col("n_rows").alias("n_rows_b")
    )
    j = la.join(lb, "block_id")
    summary = j.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum((F.col("dg_a") != F.col("dg_b")).cast("long"))
        .cast("long")
        .alias("n_diff_blocks"),
    )
    ra = root.filter("version = 'a'").select(F.col("root_dg").alias("root_a"))
    rb = root.filter("version = 'b'").select(F.col("root_dg").alias("root_b"))
    roots = ra.crossJoin(rb).select(
        (F.col("root_a") == F.col("root_b")).cast("int").alias("roots_match")
    )
    diffs = (
        j.filter(F.col("dg_a") != F.col("dg_b"))
        .crossJoin(F.broadcast(summary))
        .crossJoin(F.broadcast(roots))
        .select(
            "block_id",
            F.substring("dg_a", 1, 16).alias("digest_a16"),
            F.substring("dg_b", 1, 16).alias("digest_b16"),
            "n_rows_a",
            "n_rows_b",
            "n_blocks",
            "n_diff_blocks",
            "roots_match",
        )
    )
    # sentinel summary row (round-10 advice): identical snapshots
    # used to return ZERO rows, losing the roots_match evidence and
    # making the comparison vacuous — the block_id = -1 row carries
    # the tree summary no matter how many blocks differ
    sentinel = summary.crossJoin(roots).select(
        F.lit(-1).cast("long").alias("block_id"),
        F.lit(None).cast("string").alias("digest_a16"),
        F.lit(None).cast("string").alias("digest_b16"),
        F.lit(None).cast("long").alias("n_rows_a"),
        F.lit(None).cast("long").alias("n_rows_b"),
        "n_blocks",
        "n_diff_blocks",
        "roots_match",
    )
    return diffs.unionByName(sentinel)


def _merkle_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    bb = _hash_bucket_sql(
        f"CAST(o_orderkey // {MKL_BLOCK} AS VARCHAR)", "mklb|", 100
    )
    br = _hash_bucket_sql("CAST(o_orderkey AS VARCHAR)", "mklr|", 100)
    return f"""
WITH base AS (
  SELECT o_orderkey // {MKL_BLOCK} AS block_id,
         o_orderkey, o_orderstatus,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents_a,
         CAST(floor(o_totalprice * 100) AS BIGINT)
           + CASE WHEN ({bb}) < {MKL_BLOCK_PCT}
                   AND ({br}) < {MKL_ROW_PCT} THEN 1 ELSE 0 END AS cents_b,
         CAST(o_orderdate AS VARCHAR) AS d
  FROM orders),
rows_v AS (
  SELECT 'a' AS version, block_id,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(cents_a AS VARCHAR) || '|' || d) AS rh
  FROM base
  UNION ALL
  SELECT 'b', block_id,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(cents_b AS VARCHAR) || '|' || d)
  FROM base),
leaves AS MATERIALIZED (
  SELECT version, block_id,
         md5(string_agg(rh, '' ORDER BY rh)) AS dg,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM rows_v GROUP BY 1, 2),
l1 AS (
  SELECT version, block_id // {MKL_FANIN} AS block_id,
         md5(string_agg(dg, '' ORDER BY block_id)) AS dg
  FROM leaves GROUP BY 1, 2),
l2 AS (
  SELECT version, block_id // {MKL_FANIN} AS block_id,
         md5(string_agg(dg, '' ORDER BY block_id)) AS dg
  FROM l1 GROUP BY 1, 2),
root AS (
  SELECT version, md5(string_agg(dg, '' ORDER BY block_id)) AS root_dg
  FROM l2 GROUP BY 1),
j AS (
  SELECT a.block_id, a.dg AS dg_a, b.dg AS dg_b,
         a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
  FROM (SELECT * FROM leaves WHERE version = 'a') a
  JOIN (SELECT * FROM leaves WHERE version = 'b') b USING (block_id)),
summary AS (
  SELECT CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CASE WHEN dg_a <> dg_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_diff_blocks
  FROM j),
roots AS (
  SELECT CAST(ra.root_dg = rb.root_dg AS INT) AS roots_match
  FROM (SELECT root_dg FROM root WHERE version = 'a') ra,
       (SELECT root_dg FROM root WHERE version = 'b') rb)
SELECT block_id, substr(dg_a, 1, 16) AS digest_a16,
       substr(dg_b, 1, 16) AS digest_b16,
       n_rows_a, n_rows_b, n_blocks, n_diff_blocks, roots_match
FROM j, summary, roots
WHERE dg_a <> dg_b
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       n_blocks, n_diff_blocks, roots_match
FROM summary, roots
"""


#: Benford first-digit expectations, floor-ppm of log10(1 + 1/d) —
#: FIXED literal constants (no runtime log10, no float surface; the
#: `KW_CHI2_DF2_PPM` posture).  Natural multi-magnitude amounts
#: follow these; fabricated or truncated feeds don't — the classic
#: forensic data-quality screen.
BENFORD_PPM = {
    1: 301_029, 2: 176_091, 3: 124_938, 4: 96_910, 5: 79_181,
    6: 66_946, 7: 57_991, 8: 51_152, 9: 45_757,
}


def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    forensic DQ screen for fabricated, truncated, or unit-mangled
    monetary feeds: natural amounts spanning magnitudes put ~30.1%
    of first digits at 1, and a feed that diverges hard from the
    log-curve was usually generated, clipped, or re-scaled
    somewhere upstream.  One row per digit: observed count,
    observed floor-ppm share, the fixed expected ppm, the absolute
    deviation, and the max deviation across digits (the MAD-style
    headline the audit gates on) as a broadcast scalar.

    Integer contract: the first significant digit of the cents
    amount is character one of its decimal spelling (identical in
    both engines for positive integers — no float log10); shares
    are floor-ppm of exact counts; expectations are fixed literal
    constants.  No float touches the audit.

    Scale shape: one map-side-combinable 9-group aggregate over the
    scan; everything after runs on 9 rows."""
    o = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    digits = o.select(cents.alias("cents")).filter(
        F.col("cents") > 0
    ).select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    from ..io import swap_cache

    # persist the 9-row digit counts and the 9-row report: their
    # second consumers (total scalar, MAD scalar) otherwise re-ran
    # the full scan aggregate each — 4 orders scans in this plan
    # (r14 scan sweep; guide §2.4)
    counts = swap_cache(
        "dq.benford_counts",
        digits.groupBy("digit").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
    )
    tot = counts.agg(F.sum("n").cast("long").alias("n_total"))
    exp_arr = F.array(
        *[F.lit(BENFORD_PPM[d]).cast("long") for d in range(1, 10)]
    )
    per = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_total"
                " AS BIGINT)"
            ).alias("obs_ppm"),
            F.element_at(exp_arr, F.col("digit")).alias("exp_ppm"),
        )
        .select(
            "digit",
            "n",
            "obs_ppm",
            "exp_ppm",
            F.abs(F.col("obs_ppm") - F.col("exp_ppm"))
            .cast("long")
            .alias("dev_ppm"),
        )
    )
    per = swap_cache("dq.benford_per", per)
    mad = per.agg(
        F.max("dev_ppm").cast("long").alias("max_dev_ppm")
    )
    return per.crossJoin(F.broadcast(mad)).orderBy("digit")


def _benford_oracle() -> str:
    exp_case = " ".join(
        f"WHEN {d} THEN {BENFORD_PPM[d]}" for d in range(1, 10)
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
counts AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts),
per AS (
  SELECT digit, n,
         CAST(CAST(1000000 AS HUGEINT) * n // (SELECT n_total FROM tot)
              AS BIGINT) AS obs_ppm,
         CAST(CASE digit {exp_case} END AS BIGINT) AS exp_ppm
  FROM counts),
dev AS (
  SELECT digit, n, obs_ppm, exp_ppm,
         CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm
  FROM per)
SELECT digit, n, obs_ppm, exp_ppm, dev_ppm,
       (SELECT CAST(max(dev_ppm) AS BIGINT) FROM dev) AS max_dev_ppm
FROM dev ORDER BY digit
"""


QUERIES = {
    "merkle_table_digest": merkle_table_digest,
    "dq_audit": dq_audit,
    "dp_noisy_release": dp_noisy_release,
    "k_anonymity_audit": k_anonymity_audit,
    "t_closeness_audit": t_closeness_audit,
    "source_length_drift": source_length_drift,
    "order_totals_reconciliation": order_totals_reconciliation,
    "supplier_concentration": supplier_concentration,
    "gdpr_delete_propagation": gdpr_delete_propagation,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "file_metadata_lineage": file_metadata_lineage,
    "incremental_agg_maintenance": incremental_agg_maintenance,
    "ivm_delete_maintenance": ivm_delete_maintenance,
    "incremental_join_maintenance": incremental_join_maintenance,
    "incremental_session_maintenance": incremental_session_maintenance,
    "benford_digit_audit": benford_digit_audit,
}

ORACLES = {
    "dq_audit": DQ_AUDIT_ORACLE,
    "dp_noisy_release": _dp_oracle(),
    "merkle_table_digest": _merkle_oracle(),
    "k_anonymity_audit": K_ANONYMITY_ORACLE,
    "t_closeness_audit": T_CLOSENESS_ORACLE,
    "source_length_drift": LENGTH_DRIFT_ORACLE,
    "order_totals_reconciliation": RECONCILIATION_ORACLE,
    "supplier_concentration": CONCENTRATION_ORACLE,
    "gdpr_delete_propagation": GDPR_ORACLE,
    "corpus_snapshot_diff": SNAPSHOT_DIFF_ORACLE,
    "file_metadata_lineage": FILE_METADATA_ORACLE,
    "incremental_agg_maintenance": INCREMENTAL_AGG_ORACLE,
    "ivm_delete_maintenance": IVM_DELETE_ORACLE,
    "incremental_join_maintenance": INCREMENTAL_JOIN_ORACLE,
    "incremental_session_maintenance": SESSION_IVM_ORACLE,
    "benford_digit_audit": _benford_oracle(),
}
