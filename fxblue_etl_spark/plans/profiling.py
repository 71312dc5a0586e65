"""Statistical profiling of fact columns: Benford conformance, a
quantile-sketch accuracy contract, and a Pareto (skyline) frontier.

The reference trusts its sink and computes no profile statistics at
all (`CSV PARSER/gcp_csv.py` validates column presence only,
SURVEY F1); at lakehouse scale the profile pass is how a pipeline
notices fabricated data (Benford), a mis-tuned sketch (the quantile
contract), or the efficient frontier of a dimension trade-off
(skyline). All three emit exact-integer columns only, per the repo's
oracle-determinism rules (README).

Scale shapes:
- Benford: one map-side-combined count aggregate over a row-local
  first-digit expression — a single scan, 9 output rows.
- Quantile contract: one pass building the KLL-style sketch
  (``percentile_approx``) plus one conditional-count pass against the
  sketch's output; the certification compares *rank* error (the
  sketch's actual guarantee), not value error.
- Skyline: the 2-D frontier via per-price aggregation and a bounded
  two-level prefix-max (per-bucket window + a cumulative max over the
  bucket aggregate), never the O(n²) dominance self-join the oracle
  uses. Buckets are value-range-bounded, so the partitionless window
  runs over at most a few hundred rows at any corpus size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import table

#: floor(1e6·log10(1 + 1/d)) for d = 1..9 — computed ONCE here and
#: injected as literals into BOTH engines' queries, so no runtime
#: log10 ulp can diverge between them.
BENFORD_PPM = {d: math.floor(1e6 * math.log10(1 + 1 / d)) for d in range(1, 10)}


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of o_totalprice vs the
    Benford expectation, in exact ppm.

    A natural multi-magnitude money column tracks Benford closely;
    a synthesized or truncated one does not — the |observed −
    expected| column is the anomaly signal a DQ gate thresholds.
    ``o_totalprice`` ≥ 1 in every TPC-H-like vintage, so the first
    digit of ``floor(x)`` is the first significant digit."""
    o = table(spark, sf_dir, "orders")
    digit = (
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for d in range(1, 10) for x in (d, BENFORD_PPM[d])]
        ),
        F.col("digit"),
    )
    counts = o.select(digit).groupBy("digit").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n DIV n_total AS BIGINT)"
            ).alias("observed_ppm"),
            expected.cast("long").alias("benford_ppm"),
        )
        .withColumn(
            "abs_delta_ppm", F.abs(F.col("observed_ppm") - F.col("benford_ppm"))
        )
    )


def _benford_oracle() -> str:
    case = " ".join(
        f"WHEN {d} THEN {BENFORD_PPM[d]}" for d in range(1, 10)
    )
    return f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit,
         count(*) AS n
  FROM orders GROUP BY 1),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM counts)
SELECT digit, n,
       CAST(CAST(1000000 AS HUGEINT) * n // n_total AS BIGINT) AS observed_ppm,
       CAST(CASE digit {case} END AS BIGINT) AS benford_ppm,
       abs(CAST(CAST(1000000 AS HUGEINT) * n // n_total AS BIGINT)
           - CAST(CASE digit {case} END AS BIGINT)) AS abs_delta_ppm
FROM counts, tot
"""


BENFORD_ORACLE = _benford_oracle()


#: percentile_approx accuracy knob: rank error guaranteed ≤ n / ACCURACY
QUANTILE_ACCURACY = 10000
#: certified quantiles, in tenths (5 → 0.5, 9 → 0.9)
QUANTILE_TENTHS = (5, 9)


def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy certification for ``percentile_approx`` — the
    quantile sibling of ``hll_accuracy_check`` (`plans/stats.py`).

    The sketch's published guarantee is on RANK, not value: the
    returned datum's rank r must satisfy |r − q·n| ≤ n/ACCURACY.  We
    re-derive the rank of the sketch's answer with an exact
    conditional count and assert the inequality in pure int64
    (|10·r − q_tenths·n| · ACCURACY ≤ 10·n + 10·ACCURACY, the +1-row
    slack covering duplicate-value rank ambiguity).  The oracle
    asserts the exact row count and TRUE bounds, so a sketch
    regression flips the driver row red.

    Scale: two single-pass aggregates; the sketch is mergeable
    (map-side partials), the rank check is a conditional count."""
    o = table(spark, sf_dir, "orders")
    sk = o.agg(
        *[
            F.percentile_approx(
                "o_totalprice", t / 10.0, QUANTILE_ACCURACY
            ).alias(f"apx_{t}")
            for t in QUANTILE_TENTHS
        ],
        F.count("*").alias("n_rows"),
    )
    ranks = o.crossJoin(F.broadcast(sk)).agg(
        F.first("n_rows").alias("n_rows"),
        *[
            F.count(
                F.when(F.col("o_totalprice") <= F.col(f"apx_{t}"), 1)
            ).alias(f"r_{t}")
            for t in QUANTILE_TENTHS
        ],
    )
    # one row-local explode unpivots the per-quantile columns — a
    # union of per-quantile selects re-executes the two-scan sketch +
    # rank lineage once per quantile (the scan_sweep finding)
    return ranks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("quantile_tenths"),
                        F.col("n_rows").alias("n_rows"),
                        (
                            F.abs(
                                F.lit(10) * F.col(f"r_{t}")
                                - F.lit(t) * F.col("n_rows")
                            )
                            * QUANTILE_ACCURACY
                            <= F.lit(10) * F.col("n_rows")
                            + F.lit(10 * QUANTILE_ACCURACY)
                        ).alias("within_bound"),
                    )
                    for t in QUANTILE_TENTHS
                ]
            )
        ).alias("r")
    ).select("r.*")


QUANTILE_CONTRACT_ORACLE = """
SELECT 5 AS quantile_tenths, (SELECT count(*) FROM orders) AS n_rows,
       TRUE AS within_bound
UNION ALL
SELECT 9, (SELECT count(*) FROM orders), TRUE
"""


#: skyline price-bucket width in e2 units ($10) — buckets are bounded
#: by the column's value range (~10⁴ for any money column), never by
#: row count, so the bucket-level window stays tiny at every scale
SKYLINE_BUCKET_E2 = 1000


def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of the part table: parts for
    which no other part is ≤ in price and ≥ in size with at least one
    strict improvement — "the biggest part money can buy at every
    price point".

    Plan (O(n) + bounded windows, vs the oracle's O(n²) NOT EXISTS):

    1. per-price aggregate: ``max_size`` per distinct ``price_e2``
       (one map-side-combined shuffle);
    2. per-bucket prefix: within each $10 price bucket, the running
       max of ``max_size`` over strictly-cheaper prices (window
       partitioned BY BUCKET — thousands of independent tasks);
    3. cross-bucket prefix: cumulative max over the bucket aggregate
       (partitionless window over ≤ value-range/width rows — ~100
       here and bounded at any corpus size);
    4. verdict join: a part is dominated iff the best size at any
       strictly-cheaper price ≥ its size, or a same-price part is
       strictly bigger. Equi-join on ``price_e2``, broadcastable.

    Exactness: all comparisons run on ``floor(price·100)`` int64, so
    the Spark plan and the brute-force oracle agree bit-for-bit."""
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("price_e2"),
        "p_size",
    )
    per_price = p.groupBy("price_e2").agg(
        F.max("p_size").alias("same_price_max")
    )
    per_price = per_price.withColumn(
        "bucket", (F.col("price_e2") / SKYLINE_BUCKET_E2).cast("long")
    )
    in_bucket = Window.partitionBy("bucket").orderBy("price_e2").rowsBetween(
        Window.unboundedPreceding, -1
    )
    per_price = per_price.withColumn(
        "prefix_in_bucket", F.max("same_price_max").over(in_bucket)
    )
    bucket_agg = per_price.groupBy("bucket").agg(
        F.max("same_price_max").alias("bucket_max")
    )
    prev_buckets = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_prefix = bucket_agg.withColumn(
        "prefix_prev_buckets", F.max("bucket_max").over(prev_buckets)
    ).select("bucket", "prefix_prev_buckets")
    level = (
        per_price.join(F.broadcast(bucket_prefix), "bucket")
        .select(
            "price_e2",
            "same_price_max",
            F.greatest(
                F.coalesce("prefix_in_bucket", F.lit(-1)),
                F.coalesce("prefix_prev_buckets", F.lit(-1)),
            ).alias("cheaper_max"),
        )
    )
    return (
        p.join(F.broadcast(level), "price_e2")
        .filter(
            (F.col("cheaper_max") < F.col("p_size"))
            & (F.col("same_price_max") <= F.col("p_size"))
        )
        .select("p_partkey", "price_e2", "p_size")
    )


PARETO_ORACLE = """
WITH p AS (
  SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS price_e2,
         p_size
  FROM part)
SELECT p_partkey, price_e2, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_e2 <= a.price_e2 AND b.p_size >= a.p_size
    AND (b.price_e2 < a.price_e2 OR b.p_size > a.p_size))
"""


#: candidate functional dependencies audited: (name, table, lhs, rhs)
FD_CANDIDATES = (
    ("nation.key->name", "nation", ("n_nationkey",), "n_name"),
    ("orders.key->custkey", "orders", ("o_orderkey",), "o_custkey"),
    ("lineitem.(ok,ln)->partkey", "lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("customer.key->nation", "customer", ("c_custkey",), "c_nationkey"),
    ("lineitem.ok->partkey", "lineitem", ("l_orderkey",), "l_partkey"),
)


def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each candidate FD
    ``LHS → RHS``, count the LHS keys whose RHS is not unique and the
    total excess distinct values — the constraint-mining pass a
    catalog runs to propose primary keys, detect denormalization
    drift, and validate upsert keys (the reference ASSUMES
    ``ticket → row`` and ``account_id → row``,
    `CSV PARSER/gcp_csv.py:51` / `RSS PARSER/gcp_rss.py:72` — this
    operator is how an engine would CHECK such an assumption before
    trusting it).

    The last candidate (``l_orderkey → l_partkey``) is known-false
    (multi-line orders), and the fixture's injected duplicate
    lineitem rows — the very dirt the D1 dedup operator exists for —
    make even ``(l_orderkey, l_linenumber) → l_partkey`` fail: the
    audit demonstrably surfaces real violations instead of
    rubber-stamping the schema's intent (the companion test pins
    both the holding and the failing verdicts).

    Per FD: distinct LHS keys, violating keys, excess-value total,
    and a holds verdict.  Scale shape: one map-side-combined
    two-level aggregate per FD (groupBy LHS → countDistinct RHS →
    summarize); candidates are config-sized."""
    outs = []
    for name, tbl, lhs, rhs in FD_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        per_key = t.groupBy(*lhs).agg(
            F.countDistinct(rhs).alias("n_rhs")
        )
        outs.append(
            per_key.agg(
                F.lit(name).alias("fd"),
                F.count("*").cast("long").alias("n_keys"),
                F.sum((F.col("n_rhs") > 1).cast("int")).cast("long").alias("n_violating_keys"),
                F.sum(F.col("n_rhs") - 1).cast("long").alias("excess_values"),
                F.max(F.col("n_rhs") > 1).alias("violated"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "fd", "n_keys", "n_violating_keys", "excess_values",
        (~F.col("violated")).cast("int").alias("holds"),
    )


#: fd_discovery_sweep geometry: the orders columns swept (level-1
#: TANE lattice) and the deterministic 10% sample bucket used for
#: the pruning phase
FD_SWEEP_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
FD_SWEEP_SAMPLE_PCT = 10


def fd_discovery_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency DISCOVERY (TANE level 1, Huhtala et al.
    1999) over every ordered column pair of orders — where
    ``functional_dependency_audit`` CHECKS a fixed candidate list,
    this one finds the candidates: FD A→B holds iff
    countDistinct(A) == countDistinct(A, B).

    Scale design — sample-prune then exact-verify: a level-1 sweep
    needs one exact distinct count per column and per pair (an
    |pairs|-way expand of the scan — real money at 100 TB), but an
    FD that FAILS on any subset fails on the superset (violations
    only accumulate), so phase 1 computes all counts on a
    deterministic 10% md5-bucket sample and PRUNES every pair the
    sample already refutes; phase 2 pays the exact full-table
    distinct counts only for the survivors.  The sample verdicts are
    a bounded 1-row collect (21 integers).  Pruned pairs emit
    (holds=0, counts=-1) — the refutation is already proven; the
    oracle replays the same bucket rule, prune set, and survivor
    counts.

    Output: one row per ordered pair (det → dep) with the prune
    flag, exact distinct counts (survivors only), and the verdict.
    The fixture makes both verdicts real: o_orderkey → * all hold;
    o_custkey → o_orderstatus fails."""
    from ..operators.corpusops import _hash_bucket

    cols = FD_SWEEP_COLS
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    # fan_out: the 21-way countDistinct Expand multiplies the scan
    # ×|aggs| BEFORE the partial aggregate, and the single-file orders
    # scan is one split — the whole expand ran on one core (measured
    # 4.9-7.6s for the full aggregate alone at sf0.1; r14 optimization
    # round, guide §2.5)
    from ..io import fan_out

    t = fan_out(table(spark, sf_dir, "orders"))
    samp = t.filter(
        _hash_bucket(
            F.col("o_orderkey").cast("string"), "fdsweep|", 100
        )
        < FD_SWEEP_SAMPLE_PCT
    )
    s_aggs = [
        F.countDistinct(c).cast("long").alias(f"c_{c}") for c in cols
    ] + [
        F.countDistinct(F.struct(a, b)).cast("long").alias(f"p_{a}__{b}")
        for a, b in pairs
    ]
    srow = samp.agg(*s_aggs).first()
    # directed prune verdicts from the sample (bounded driver read)
    pruned = {
        (a, b): srow[f"c_{a}"] != srow[f"p_{a}__{b}"]
        for a, b in pairs
    } | {
        (b, a): srow[f"c_{b}"] != srow[f"p_{a}__{b}"]
        for a, b in pairs
    }
    surv_cols = sorted(
        {d for (d, _), pr in pruned.items() if not pr}
        | {e for (d, e), pr in pruned.items() if not pr}
    )
    surv_pairs = [
        (a, b) for a, b in pairs
        if not pruned[(a, b)] or not pruned[(b, a)]
    ]
    f_aggs = [
        F.countDistinct(c).cast("long").alias(f"c_{c}") for c in surv_cols
    ] + [
        F.countDistinct(F.struct(a, b)).cast("long").alias(f"p_{a}__{b}")
        for a, b in surv_pairs
    ]
    # persist the 1-row exact-count aggregate: the former shape
    # unioned one select per survivor off the un-persisted frame,
    # re-executing the multi-countDistinct expand once per survivor —
    # |survivors| full-table passes at scale (r14 optimization round,
    # guide §2.4); with the persist the expand runs once and every
    # union branch reads the cached row
    from ..io import swap_cache

    full = (
        swap_cache("profiling.fd_full", t.agg(*f_aggs))
        if f_aggs
        else None
    )
    # assemble: pruned rows are literals (their refutation is already
    # proven by the sample); survivor rows read the one full-
    # aggregate row
    lit_rows = [
        (det, dep)
        for a, b in pairs
        for det, dep in ((a, b), (b, a))
        if pruned[(det, dep)]
    ]
    out = None
    if lit_rows:
        out = spark.createDataFrame(
            [(d, e, 1, -1, -1, 0) for d, e in lit_rows],
            "det string, dep string, pruned_by_sample int,"
            " n_det long, n_pair long, holds int",
        )
    for a, b in pairs:
        for det, dep in ((a, b), (b, a)):
            if pruned[(det, dep)]:
                continue
            piece = full.select(
                F.lit(det).alias("det"),
                F.lit(dep).alias("dep"),
                F.lit(0).alias("pruned_by_sample"),
                F.col(f"c_{det}").alias("n_det"),
                F.col(f"p_{a}__{b}").alias("n_pair"),
                (F.col(f"c_{det}") == F.col(f"p_{a}__{b}"))
                .cast("int")
                .alias("holds"),
            )
            out = piece if out is None else out.unionByName(piece)
    return out


def _fd_sweep_oracle() -> str:
    from ..operators.corpusops import _hash_bucket_sql

    cols = FD_SWEEP_COLS
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    b = _hash_bucket_sql("CAST(o_orderkey AS VARCHAR)", "fdsweep|", 100)
    s_sel = ", ".join(
        [f"count(DISTINCT {c}) AS c_{c}" for c in cols]
        + [
            f"count(DISTINCT ({a}, {b2})) AS p_{a}__{b2}"
            for a, b2 in pairs
        ]
    )
    legs = []
    for a, b2 in pairs:
        for det, dep in ((a, b2), (b2, a)):
            legs.append(f"""
SELECT '{det}' AS det, '{dep}' AS dep,
       CAST(CASE WHEN s.c_{det} != s.p_{a}__{b2} THEN 1 ELSE 0 END AS INT)
         AS pruned_by_sample,
       CAST(CASE WHEN s.c_{det} != s.p_{a}__{b2} THEN -1
                 ELSE f.c_{det} END AS BIGINT) AS n_det,
       CAST(CASE WHEN s.c_{det} != s.p_{a}__{b2} THEN -1
                 ELSE f.p_{a}__{b2} END AS BIGINT) AS n_pair,
       CAST(CASE WHEN s.c_{det} != s.p_{a}__{b2} THEN 0
                 WHEN f.c_{det} = f.p_{a}__{b2} THEN 1
                 ELSE 0 END AS INT) AS holds
FROM s, f""")
    return f"""
WITH samp AS (SELECT * FROM orders WHERE {b} < {FD_SWEEP_SAMPLE_PCT}),
s AS (SELECT {s_sel} FROM samp),
f AS (SELECT {s_sel} FROM orders)
{" UNION ALL ".join(legs)}
"""


def _fd_oracle() -> str:
    legs = []
    for name, tbl, lhs, rhs in FD_CANDIDATES:
        keys = ", ".join(lhs)
        legs.append(f"""
SELECT '{name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
       CAST(sum(n_rhs - 1) AS BIGINT) AS excess_values,
       CAST(CASE WHEN max(n_rhs) > 1 THEN 0 ELSE 1 END AS INT) AS holds
FROM (SELECT {keys}, count(DISTINCT {rhs}) AS n_rhs FROM {tbl} GROUP BY {keys}) g""")
    return "\nUNION ALL\n".join(legs)


FD_AUDIT_ORACLE = _fd_oracle()


#: primary-ish key per catalog table for the snapshot manifest
CATALOG_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def catalog_snapshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-catalog release manifest: one row per table with its
    row count and exact key fingerprint (min / max / sum of the
    table's primary-ish key) — the integrity record a data release
    pins so a consumer can verify every table arrived whole, without
    hashing any content (key sums are order-independent exact
    integers, so the manifest is engine- and partitioning-neutral).
    The key sum runs in DECIMAL(38,0)/HUGEINT and is emitted as a
    string: a dense ~n-sized key column sums to ~n²/2, which wraps
    int64 past ~4e9 rows — a 100 TB fact is far beyond that.

    Scale shape: one map-side-combined aggregate per table (count +
    three key reductions fuse into a single scan each); the manifest
    union is 10 one-row frames. The reference has no cross-table
    integrity story at all (each pipeline trusts its own sink);
    this is the missing release gate."""
    parts = []
    for name, key in CATALOG_KEYS.items():
        t = table(spark, sf_dir, name)
        parts.append(
            t.agg(
                F.lit(name).alias("table_name"),
                F.count("*").cast("long").alias("n_rows"),
                F.min(F.col(key).cast("long")).alias("key_min"),
                F.max(F.col(key).cast("long")).alias("key_max"),
                F.sum(F.col(key).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("key_sum"),
            ).select("table_name", "n_rows", "key_min", "key_max", "key_sum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


CATALOG_MANIFEST_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min({key}) AS BIGINT) AS key_min,
       CAST(max({key}) AS BIGINT) AS key_max,
       CAST(CAST(sum(CAST({key} AS HUGEINT)) AS HUGEINT) AS VARCHAR) AS key_sum
FROM {name}"""
    for name, key in CATALOG_KEYS.items()
)


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-grade join cardinality estimation, certified against
    ground truth: the System-R equi-join estimate
    ``|A ⋈ B| ≈ |A|·|B| / max(ndv_A(k), ndv_B(k))`` computed from
    exact column statistics, next to the ACTUAL join count, with the
    signed error in ppm — the number a cost-based optimizer would
    plan with versus the number reality delivers. Two join pairs are
    scored (orders⋈customer on custkey: FK with unmatched dim rows;
    lineitem⋈orders on orderkey: every probe matches) so the estimate
    is exercised where the uniformity assumption both holds and
    leaks.

    All arithmetic is integer cross-multiplication in
    DECIMAL(38,0)/HUGEINT (``|A|·|B|`` reaches 1e24 at trillion-row
    scale); the estimate uses truncating DIV identically in both
    engines. Stats passes are map-side-combined count(+distinct)
    aggregates; the actual counts are the joins a calibration run
    pays once."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    def pair(name, left, lk, right, rk):
        ls = left.agg(
            F.count("*").cast("long").alias("n_l"),
            F.countDistinct(lk).cast("long").alias("ndv_l"),
        )
        rs = right.agg(
            F.count("*").cast("long").alias("n_r"),
            F.countDistinct(rk).cast("long").alias("ndv_r"),
        )
        actual = (
            left.join(right, left[lk] == right[rk])
            .agg(F.count("*").cast("long").alias("actual_rows"))
        )
        return (
            ls.crossJoin(F.broadcast(rs))  # 1-row stats, by design
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_pair"),
                "n_l",
                "n_r",
                F.greatest("ndv_l", "ndv_r").alias("ndv_max"),
                F.expr(
                    "CAST(CAST(n_l AS DECIMAL(38,0)) * n_r"
                    " DIV CAST(greatest(ndv_l, ndv_r) AS DECIMAL(38,0))"
                    " AS BIGINT)"
                ).alias("est_rows"),
                "actual_rows",
            )
            .withColumn(
                "err_ppm",
                F.expr(
                    "CAST(CAST(1000000 AS DECIMAL(38,0))"
                    " * (est_rows - actual_rows)"
                    " DIV CAST(actual_rows AS DECIMAL(38,0)) AS BIGINT)"
                ),
            )
        )

    return pair("orders_customer", o, "o_custkey", c, "c_custkey").unionByName(
        pair("lineitem_orders", li, "l_orderkey", o, "o_orderkey")
    )


JOIN_CARD_ORACLE = """
WITH oc AS (
  SELECT 'orders_customer' AS join_pair,
         (SELECT count(*) FROM orders) AS n_l,
         (SELECT count(*) FROM customer) AS n_r,
         greatest((SELECT count(DISTINCT o_custkey) FROM orders),
                  (SELECT count(DISTINCT c_custkey) FROM customer)) AS ndv_max,
         (SELECT count(*) FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey) AS actual_rows),
lo AS (
  SELECT 'lineitem_orders' AS join_pair,
         (SELECT count(*) FROM lineitem) AS n_l,
         (SELECT count(*) FROM orders) AS n_r,
         greatest((SELECT count(DISTINCT l_orderkey) FROM lineitem),
                  (SELECT count(DISTINCT o_orderkey) FROM orders)) AS ndv_max,
         (SELECT count(*) FROM lineitem l JOIN orders o
            ON l.l_orderkey = o.o_orderkey) AS actual_rows),
u AS (SELECT * FROM oc UNION ALL SELECT * FROM lo)
SELECT join_pair,
       CAST(n_l AS BIGINT) AS n_l,
       CAST(n_r AS BIGINT) AS n_r,
       CAST(ndv_max AS BIGINT) AS ndv_max,
       CAST(CAST(n_l AS HUGEINT) * n_r // CAST(ndv_max AS HUGEINT) AS BIGINT)
         AS est_rows,
       CAST(actual_rows AS BIGINT) AS actual_rows,
       CAST(CAST(1000000 AS HUGEINT)
            * (CAST(n_l AS HUGEINT) * n_r // CAST(ndv_max AS HUGEINT)
               - actual_rows)
            // CAST(actual_rows AS HUGEINT) AS BIGINT) AS err_ppm
FROM u
"""


QUERIES = {
    "catalog_snapshot_manifest": catalog_snapshot_manifest,
    "join_cardinality_estimate": join_cardinality_estimate,
    "benford_first_digit": benford_first_digit,
    "approx_quantile_contract": approx_quantile_contract,
    "pareto_frontier_parts": pareto_frontier_parts,
    "functional_dependency_audit": functional_dependency_audit,
    "fd_discovery_sweep": fd_discovery_sweep,
}

ORACLES = {
    "catalog_snapshot_manifest": CATALOG_MANIFEST_ORACLE,
    "join_cardinality_estimate": JOIN_CARD_ORACLE,
    "benford_first_digit": BENFORD_ORACLE,
    "approx_quantile_contract": QUANTILE_CONTRACT_ORACLE,
    "pareto_frontier_parts": PARETO_ORACLE,
    "functional_dependency_audit": FD_AUDIT_ORACLE,
    "fd_discovery_sweep": _fd_sweep_oracle(),
}
