"""Property-based tests (SURVEY §5.4, hypothesis): the invariants the
reference enforces only via DB constraints — upsert idempotence,
parse round-trips, dedup idempotence — checked over generated inputs.

Example counts are kept small: each example is a Spark job, so the
value is input diversity, not volume.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fxblue_etl_spark.operators.cleaning import (
    RSS_FMT,
    parse_rss_timestamp,
    pct_to_ratio,
)
from fxblue_etl_spark.operators.merge import merge_upsert, resolve_last_write

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # ticket (forces collisions)
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.integers(min_value=0, max_value=5),  # ingest_ts
    ),
    min_size=1,
    max_size=20,
)


@settings(**SETTINGS)
@given(old_rows=rows_strategy, new_rows=rows_strategy)
def test_merge_upsert_idempotent(spark, old_rows, new_rows):
    """merge(merge(old,new),new) == merge(old,new) — the ON CONFLICT
    invariant that makes the reference's re-run loop safe."""
    cols = ["ticket", "pnl", "_ingest_ts"]
    # idempotence requires deterministic last-write resolution: make
    # (_ingest_ts) unique per key by construction
    dedup = {}
    for t, p, ts in new_rows:
        dedup[(t, ts)] = (t, p, ts)
    new_rows = list(dedup.values())
    old = resolve_last_write(spark.createDataFrame(old_rows, cols), ["ticket"])
    new = spark.createDataFrame(new_rows, cols)
    once = merge_upsert(old, new, ["ticket"], order_col="_ingest_ts").localCheckpoint()
    twice = merge_upsert(once, new, ["ticket"], order_col="_ingest_ts")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@settings(**SETTINGS)
@given(
    dts=st.lists(
        st.datetimes(
            min_value=datetime(1971, 1, 1),
            max_value=datetime(2037, 12, 31),
        ).map(lambda d: d.replace(microsecond=0)),
        min_size=1,
        max_size=50,
    )
)
def test_rss_timestamp_roundtrip(spark, dts):
    """format(RSS_FMT) → parse_rss_timestamp recovers the instant."""
    df = spark.createDataFrame([(d,) for d in dts], ["ts"])
    out = df.select(
        "ts",
        parse_rss_timestamp(f"date_format(ts, '{RSS_FMT}')").alias("rt"),
    ).collect()
    for r in out:
        assert r.rt == r.ts, (r.ts, r.rt)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.just("-"),
            st.floats(
                min_value=-1000, max_value=1000, allow_nan=False
            ).map(lambda x: f"{round(x, 6)}%"),
            st.floats(min_value=-10, max_value=10, allow_nan=False).map(
                lambda x: str(round(x, 6))
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_pct_to_ratio_semantics(spark, vals):
    """'x%' → x/100; '-'/NULL → NULL; bare numeric → itself."""
    df = spark.createDataFrame([(v,) for v in vals], "raw string")
    out = [r.v for r in df.select(pct_to_ratio("raw").alias("v")).collect()]
    for raw, got in zip(vals, out):
        if raw is None or raw == "-":
            assert got is None
        elif raw.endswith("%"):
            assert got == pytest.approx(float(raw[:-1]) / 100.0, rel=1e-9)
        else:
            assert got == pytest.approx(float(raw), rel=1e-9)


@settings(**SETTINGS)
@given(rows=rows_strategy)
def test_last_write_wins_idempotent_and_keyed(spark, rows):
    df = spark.createDataFrame(rows, ["ticket", "pnl", "_ingest_ts"])
    once = resolve_last_write(df, ["ticket"]).localCheckpoint()
    twice = resolve_last_write(once, ["ticket"])
    assert once.count() == df.select("ticket").distinct().count()
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # survivor carries the max ingest_ts of its key group
    max_ts = {
        r.ticket: r.m
        for r in df.groupBy("ticket").agg(F.max("_ingest_ts").alias("m")).collect()
    }
    for r in once.collect():
        assert r._ingest_ts == max_ts[r.ticket]


# ── as-of join vs pandas merge_asof (differential oracle) ──────────────

asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key (forces collisions)
        st.integers(min_value=0, max_value=100),  # ts seconds
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=15,
)


@settings(**SETTINGS)
@given(trade_rows=asof_rows, quote_rows=asof_rows)
def test_asof_join_matches_pandas_merge_asof(spark, trade_rows, quote_rows):
    """The union+window as-of join must agree with pandas.merge_asof
    (backward direction, inclusive) on arbitrary inputs."""
    import pandas as pd

    from fxblue_etl_spark.operators.temporal import asof_join

    # merge_asof demands unique, sorted 'on' keys per group to be
    # deterministic; dedup (key, ts) keeping the max value, like the
    # operator's documented precondition
    def dedup(rows):
        d = {}
        for k, ts, v in rows:
            d[(k, ts)] = max(v, d.get((k, ts), float("-inf")))
        return sorted((k, ts, v) for (k, ts), v in d.items())

    trade_rows, quote_rows = dedup(trade_rows), dedup(quote_rows)
    trades = spark.createDataFrame(
        [(i, k, ts, v) for i, (k, ts, v) in enumerate(trade_rows)],
        "trade_id long, acct long, ts long, tv double",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    quotes = spark.createDataFrame(
        quote_rows, "acct long, ts long, value double"
    ).withColumn("ts", F.timestamp_seconds("ts"))

    got = {
        r.trade_id: r.asof_value
        for r in asof_join(trades, quotes, key="acct").collect()
    }

    tpd = pd.DataFrame(
        [(i, k, ts, v) for i, (k, ts, v) in enumerate(trade_rows)],
        columns=["trade_id", "acct", "ts", "tv"],
    ).sort_values("ts", kind="stable")
    qpd = pd.DataFrame(quote_rows, columns=["acct", "ts", "value"]).sort_values(
        "ts", kind="stable"
    )
    want_df = pd.merge_asof(
        tpd, qpd, on="ts", by="acct", direction="backward", allow_exact_matches=True
    )
    want = {
        int(r.trade_id): (None if pd.isna(r.value) else float(r.value))
        for r in want_df.itertuples()
    }
    assert got == want


scrub_text_strategy = st.lists(
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127),
        min_size=0,
        max_size=24,
    ).map(lambda s: s if s else "x"),
    min_size=1,
    max_size=6,
)


@given(texts=scrub_text_strategy)
@settings(**SETTINGS)
def test_pii_scrub_is_idempotent(spark, texts):
    """scrub(scrub(x)) == scrub(x): replacement tags contain no PII
    shapes and no redaction keywords, so a second pass is a no-op —
    the invariant that makes re-running the redaction stage safe."""
    import fxblue_etl_spark.operators.textops as t

    # salt the generated words with every redaction trigger class
    salted = texts + [
        "mail a.b@x-y.org now",
        "call 555-123-4567",
        "host 10.0.0.1 up",
        f"the {t.REDACT_WORDS[0]} and the {t.REDACT_WORDS[1]}",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(salted)], "doc_id long, text string"
    )

    def scrub(col):
        out = F.regexp_replace(col, t.PII_EMAIL_RE, "[EMAIL]")
        out = F.regexp_replace(out, t.PII_PHONE_RE, "[PHONE]")
        out = F.regexp_replace(out, t.PII_IP_RE, "[IP]")
        return F.regexp_replace(out, t.REDACT_WORDS_RE, "[REDACTED]")

    rows = df.select(
        "doc_id", scrub(F.col("text")).alias("once")
    ).select("doc_id", "once", scrub(F.col("once")).alias("twice")).collect()
    for r in rows:
        assert r["once"] == r["twice"], r


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # user_id (collisions)
        st.integers(min_value=0, max_value=50),  # ts offset seconds
        st.sampled_from(["view", "click", "buy"]),
    ),
    min_size=1,
    max_size=24,
    unique=True,
)


@given(rows=events_strategy, seed=st.randoms())
@settings(**SETTINGS)
def test_collapse_runs_is_arrival_order_insensitive(spark, rows, seed):
    """`_collapse_runs` (the CDC→SCD2 batch kernel) must produce the
    same run set no matter how the batch's rows arrive: the collapse
    sorts on (ts, event_id), so any shuffle of the input is
    equivalent."""
    from fxblue_etl_spark.streaming.pipelines import _collapse_runs

    def build(order):
        data = [
            (u, datetime(2024, 1, 1, 0, 0, t), i, et)
            for i, (u, t, et) in enumerate(order)
        ]
        df = spark.createDataFrame(
            data, "user_id long, ts timestamp, event_id long, event_type string"
        )
        return sorted(map(tuple, _collapse_runs(df).collect()))

    base = build(rows)
    shuffled = rows[:]
    seed.shuffle(shuffled)
    # event_id must stay attached to the same logical event
    ids = {r: i for i, r in enumerate(rows)}
    data = [
        (u, datetime(2024, 1, 1, 0, 0, t), ids[(u, t, et)], et)
        for (u, t, et) in shuffled
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, event_type string"
    )
    from fxblue_etl_spark.streaming.pipelines import _collapse_runs as cr

    assert sorted(map(tuple, cr(df).collect())) == base


caps_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=25),   # source suffix
        st.integers(min_value=1, max_value=10_000),  # cap
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda t: t[0],
)


@settings(**SETTINGS)
@given(caps=caps_strategy)
def test_waterfill_conserves_budget_and_caps(spark, caps):
    """For ANY cap distribution: Σ alloc equals the ppm budget
    exactly, no source exceeds its cap, and all unsaturated sources
    sit within 1 of each other (max-min fairness)."""
    from fxblue_etl_spark.operators.corpusops import (
        WATERFILL_BUDGET_PPM,
        WATERFILL_FILL_SQL,
    )

    rows = [(f"s{i}", c) for i, c in caps]
    spark.createDataFrame(rows, "source string, cap long").createOrReplaceTempView(
        "wf_caps"
    )
    out = spark.sql(WATERFILL_FILL_SQL).collect()
    total = sum(c for _, c in rows)
    budget = (WATERFILL_BUDGET_PPM * total) // 1_000_000
    assert sum(r["alloc"] for r in out) == min(budget, total)
    for r in out:
        assert 0 <= r["alloc"] <= r["cap"]
    unsat = [r["alloc"] for r in out if r["alloc"] < r["cap"]]
    if unsat:
        assert max(unsat) - min(unsat) <= 1


@settings(**SETTINGS)
@given(
    vals=st.lists(st.integers(min_value=1, max_value=10_000), min_size=2, max_size=40),
    scale=st.integers(min_value=2, max_value=9),
)
def test_gini_bounds_and_exact_scale_invariance(spark, vals, scale):
    """Gini ppm lies in [0, 1e6) and is EXACTLY invariant under
    integer scaling (the c factor cancels in the integer quotient)."""
    from fxblue_etl_spark.functions.udfs import pandas_grouped_agg_gini  # noqa: F401

    def gini_ppm(xs):
        x = sorted(xs)
        n = len(x)
        num = sum((2 * i - n - 1) * xi for i, xi in enumerate(x, start=1))
        return (1_000_000 * num) // (n * sum(x))

    g = gini_ppm(vals)
    assert 0 <= g < 1_000_000
    assert g == gini_ppm([v * scale for v in vals])
    # and the Spark grouped-agg UDF agrees on the same series
    from fxblue_etl_spark.functions.udfs import make_gini_ppm_udf

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "s string, o_totalprice double"
    )
    got = (
        df.groupBy("s")
        .agg(
            make_gini_ppm_udf()(
                F.floor(F.col("o_totalprice")).cast("long")
            ).alias("g")
        )
        .collect()[0]["g"]
    )
    assert got == g


@settings(**SETTINGS)
@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),  # custkey pool -> freq ties
            st.integers(min_value=0, max_value=2),   # day offset -> recency ties
            st.sampled_from([5.0, 15.0, 25.0]),      # 3-value spend domain
        ),
        min_size=1,
        max_size=40,
    )
)
def test_rfm_ntile_reconstruction_matches_duckdb(spark, tmp_path_factory, orders):
    """The boundary-based NTILE(5) reconstruction must equal DuckDB's
    ntile on ARBITRARY tie structure — duplicate customers (frequency
    ties), a 3-day recency domain, a 3-value spend domain, n not
    divisible by 5, n possibly < 5."""
    import duckdb
    import pandas as pd

    from fxblue_etl_spark.plans.behavior import RFM_ORACLE, rfm_segmentation

    pdf = pd.DataFrame(
        [
            {
                "o_custkey": ck,
                "o_orderdate": datetime(2024, 3, 1 + day),
                "o_totalprice": price,
            }
            for ck, day, price in orders
        ]
    )
    d = str(tmp_path_factory.mktemp("rfm"))
    pdf.to_parquet(f"{d}/orders.parquet")
    got = sorted(tuple(r) for r in rfm_segmentation(spark, d).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/orders.parquet')")
    exp = sorted(map(tuple, con.sql(RFM_ORACLE).fetchall()))
    assert got == exp


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=14),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=12,
)


@given(base=edges_strategy, delta=edges_strategy)
@settings(**SETTINGS)
def test_upsert_components_random_graphs(spark, base, delta):
    """upsert(cc(E1), E2) ≡ cc(E1 ∪ E2) over hypothesis-generated
    edge sets (self-loops, duplicate edges, overlapping vertex sets —
    the shapes a literal-graph test never enumerates).  The min-label
    contraction algebra must hold for EVERY additive delta."""
    from fxblue_etl_spark.operators.graph import (
        connected_components,
        upsert_components,
    )

    def df(pairs):
        return spark.createDataFrame(
            [(a, b) for a, b in pairs], "src long, dst long"
        )

    labels = connected_components(df(base))
    up = {
        r.id: r.component
        for r in upsert_components(labels, df(delta)).collect()
    }
    full = {
        r.id: r.component
        for r in connected_components(df(base + delta)).collect()
    }
    assert up == full
