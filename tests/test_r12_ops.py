"""Round-12 additions: the composed corpus-release pipeline and its
hand-off certificates."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def release(spark):
    from fxblue_etl_spark.plans.corpus import corpus_release_end_to_end

    return corpus_release_end_to_end(spark, SF_DIR).collect()


def test_release_end_to_end_handoff_certificate(release):
    """Every surviving document received a split: the hand-off
    certificate is zero on every row."""
    assert release, "composed pipeline returned no rows"
    assert all(r["n_missing_split"] == 0 for r in release)


def test_release_end_to_end_conserves_survivors(spark, release):
    """The per-(split, lang) rollup must conserve the survivor set:
    summed across splits it equals llm_corpus_prep exactly — the
    composition reorganizes, never drops or invents."""
    from fxblue_etl_spark.plans.corpus import llm_corpus_prep

    prep = {
        r["pred_lang"]: (r["n_docs"], r["n_tokens_total"])
        for r in llm_corpus_prep(spark, SF_DIR).collect()
    }
    by_lang: dict[str, list[int]] = {}
    for r in release:
        acc = by_lang.setdefault(r["pred_lang"], [0, 0])
        acc[0] += r["n_docs"]
        acc[1] += r["n_tokens_total"]
    assert {k: tuple(v) for k, v in by_lang.items()} == prep


def test_release_end_to_end_chunk_economics_consistent(spark, release):
    """The rewrite column flows through the join intact: total
    chunk_toks_dropped over release rows equals the rewrite stage's
    total over SURVIVING docs (the rewrite stage also prices docs the
    cleaning stage dropped — those must NOT leak into the release)."""
    from fxblue_etl_spark.operators.dedup import chunk_dedup_rewrite
    from fxblue_etl_spark.plans.corpus import llm_survivor_docs

    surv = {r["doc_id"] for r in llm_survivor_docs(spark, SF_DIR).collect()}
    rw = chunk_dedup_rewrite(spark, SF_DIR).collect()
    expected = sum(r["chunk_toks_dropped"] for r in rw if r["doc_id"] in surv)
    assert sum(r["chunk_toks_dropped"] for r in release) == expected
    # fixture property (both sf0.001 and sf0.01): chunk near-dups
    # occur only inside doc-level dup clusters, and the rewrite
    # output rows (docs that LOST chunks) are exactly the docs the
    # doc-level dedup drops — so the release must carry ZERO chunk
    # discount.  A nonzero row here would mean drop economics leaked
    # through the left join (double discount).
    assert rw, "rewrite stage produced no rows — blocker drifted"
    assert all(r["doc_id"] not in surv for r in rw)
    assert all(r["n_docs_rewritten"] == 0 for r in release)


def test_survivor_extraction_preserves_prep_plan(spark):
    """llm_corpus_prep ≡ groupBy(llm_survivor_docs): the refactor is
    a pure extraction (round-12 refactor)."""
    from pyspark.sql import functions as F

    from fxblue_etl_spark.plans.corpus import (
        llm_corpus_prep,
        llm_survivor_docs,
    )

    a = sorted(
        map(tuple, llm_corpus_prep(spark, SF_DIR).collect())
    )
    b = sorted(
        map(
            tuple,
            llm_survivor_docs(spark, SF_DIR)
            .groupBy("pred_lang")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens_total"),
                F.sum(F.floor(F.col("quality_score") * 10))
                .cast("long")
                .alias("quality_sum_e1"),
            )
            .collect(),
        )
    )
    assert a == b


def test_compaction_execute_matches_plan(spark):
    """execute(plan) ≡ plan: every executed economic equals its
    planned twin, and each task's dir holds exactly one file."""
    from fxblue_etl_spark.plans.sinks import compaction_plan_execute

    rows = compaction_plan_execute(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_months_executed"] == r["n_months_planned"]
        assert r["rows_executed"] == r["rows_planned"]
        assert r["exec_from_ym"] == r["from_ym"]
        assert r["exec_to_ym"] == r["to_ym"]
        assert r["fill_ppm_executed"] == r["fill_ppm_planned"]
        assert r["one_file_per_task"] is True


def test_compaction_assignment_extraction_preserves_plan(spark):
    """compaction_tier_plan ≡ rollup(_compaction_assignment): the
    extraction is pure (the tier plan re-certifies in-window)."""
    from pyspark.sql import functions as F

    from fxblue_etl_spark.plans.sinks import (
        _compaction_assignment,
        compaction_tier_plan,
    )

    plan = {r["task_id"]: tuple(r) for r in
            compaction_tier_plan(spark, SF_DIR).collect()}
    asg = _compaction_assignment(spark, SF_DIR)
    re = {
        r["task_id"]: tuple(r)
        for r in asg.groupBy("task_id")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("rows_in").cast("long").alias("rows_total"),
            F.min(F.col("y") * 100 + F.col("m")).cast("long").alias("from_ym"),
            F.max(F.col("y") * 100 + F.col("m")).cast("long").alias("to_ym"),
            F.max("target").cast("long").alias("target_rows"),
        )
        .select(
            "task_id", "n_files", "rows_total", "from_ym", "to_ym",
            F.expr("1000000 * rows_total DIV target_rows")
            .cast("long")
            .alias("fill_ppm"),
        )
        .collect()
    }
    assert plan == re


def test_two_sample_flag_grid_equals_pairwise_spine(spark):
    """Round-11 verdict item 5: the wide flag-grid spine must be
    bit-identical to the round-11 per-pair merged-grid spine on both
    tests (the pairwise plan is the retained reference; the A/B that
    made the wide grid the production path is recorded in
    COVERAGE.md round 12)."""
    from pyspark.sql import functions as F

    from fxblue_etl_spark.plans import stats as S

    mg = S._two_sample_merged_grid_pairwise(spark, SF_DIR)
    agg = mg.groupBy("ga", "gb").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cbe") + F.col("cb")))
        .cast("long")
        .alias("u2_a"),
        F.sum(
            (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            * (F.col("ca") + F.col("cb"))
            - (F.col("ca") + F.col("cb"))
        )
        .cast("long")
        .alias("tie_term"),
    )
    old_mw = sorted(
        map(
            tuple,
            agg.select(
                "ga", "gb", "n_a", "n_b", "u2_a", "tie_term",
                F.expr(S._MW_Z_EXPR).cast("long").alias("z_e6"),
            ).collect(),
        )
    )
    new_mw = sorted(map(tuple, S.mann_whitney_u(spark, SF_DIR).collect()))
    assert new_mw == old_mw

    tot = mg.groupBy("ga", "gb").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    per_v = mg.join(F.broadcast(tot), ["ga", "gb"]).select(
        "ga",
        "gb",
        F.abs(
            (F.col("cae") + F.col("ca")) * F.col("n_b")
            - (F.col("cbe") + F.col("cb")) * F.col("n_a")
        )
        .cast("long")
        .alias("dnum_v"),
    )
    old_ks = sorted(
        map(
            tuple,
            per_v.groupBy("ga", "gb")
            .agg(F.max("dnum_v").cast("long").alias("d_num"))
            .collect(),
        )
    )
    new_ks = sorted(
        map(
            tuple,
            S.ks_two_sample(spark, SF_DIR)
            .select("ga", "gb", "d_num")
            .collect(),
        )
    )
    assert new_ks == old_ks


def test_prefix_filter_is_lossless_vs_bruteforce(spark):
    """The PPJoin guarantee, checked against an UNBLOCKED Spark
    brute force: prefix filtering at t = 1/2 finds exactly the
    all-pairs truth (no false dismissals; the >= t verify removes
    false candidates)."""
    from pyspark.sql import functions as F

    from fxblue_etl_spark.io import fan_out, table
    from fxblue_etl_spark.operators.dedup import (
        PF_T_DEN,
        PF_T_NUM,
        _norm_text,
        prefix_filter_jaccard_pairs,
        word_shingles,
    )
    from fxblue_etl_spark.operators.textops import ws_tokens

    got = sorted(
        map(tuple, prefix_filter_jaccard_pairs(spark, SF_DIR).collect())
    )
    d = table(spark, SF_DIR, "documents").filter(
        F.size(ws_tokens(_norm_text("text"))) >= 3
    )
    g = d.select("doc_id", word_shingles("text", k=3).alias("grams"))
    a = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb")).cast("long")
    union = F.size("ga").cast("long") + F.size("gb").cast("long") - inter
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("i", inter)
        .withColumn("u", union)
        .filter(F.col("i") * PF_T_DEN >= F.col("u") * PF_T_NUM)
        .select(
            "doc_a",
            "doc_b",
            F.expr("1000000 * i DIV u").cast("long").alias("jaccard_ppm"),
        )
    )
    assert got == sorted(map(tuple, brute.collect()))
    assert got, "fixture has no >= 1/2 Jaccard pairs — test is vacuous"


def test_prefix_filter_prefixes_are_anti_skewed(spark):
    """The scale claim: prefix tokens are each doc's RAREST grams, so
    the hottest join key in the prefix posting list is strictly
    cooler than the hottest gram overall (the filter removes the
    skew head instead of fanning it out)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.operators.dedup import (
        _norm_text,
        word_shingles,
    )
    from fxblue_etl_spark.operators.textops import ws_tokens

    d = table(spark, SF_DIR, "documents").filter(
        F.size(ws_tokens(_norm_text("text"))) >= 3
    )
    docs = d.select(
        "doc_id", word_shingles("text", k=3).alias("grams")
    ).withColumn("sz", F.size("grams").cast("long"))
    posts = docs.select("doc_id", "sz", F.explode("grams").alias("gram"))
    dfreq = posts.groupBy("gram").agg(F.count("*").cast("long").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("gram"))
    plen = F.col("sz") - F.expr("(sz * 1 + 1) DIV 2") + 1
    prefix = (
        posts.join(dfreq, "gram")
        .withColumn("rn", F.row_number().over(wdoc).cast("long"))
        .filter(F.col("rn") <= plen)
    )
    hottest_all = dfreq.agg(F.max("df")).first()[0]
    hottest_prefix = (
        prefix.groupBy("gram").count().agg(F.max("count")).first()[0]
    )
    assert hottest_prefix < hottest_all


def test_bloom_upsert_merge_is_exact(spark):
    """The OR-merge algebra: zero word mismatches, identical
    checksums, verdict true — and the split is real (both halves
    contribute words)."""
    from fxblue_etl_spark.plans.runtime_filters import (
        bloom_upsert_equivalence,
    )

    r = bloom_upsert_equivalence(spark, SF_DIR).first()
    assert r["n_mismatch"] == 0
    assert r["merge_equals_rebuild"] == 1
    assert r["merged_checksum"] == r["rebuild_checksum"]
    assert r["n_words_base"] > 0 and r["n_words_delta"] > 0


def test_association_rules_measures_are_consistent(spark):
    """Rule measures: lift is symmetric under rule direction, both
    directions of each surviving pair appear unless the confidence
    gate trims one, and confidence respects its definition."""
    from fxblue_etl_spark.plans.behavior import (
        RULE_CONF_MIN_PPM,
        association_rules_topk,
    )

    rows = association_rules_topk(spark, SF_DIR).collect()
    assert rows
    by_pair = {}
    for r in rows:
        assert r["confidence_ppm"] >= RULE_CONF_MIN_PPM
        assert r["confidence_ppm"] == 1_000_000 * r["support"] // r["supp_ante"]
        key = tuple(sorted((r["ante"], r["cons"])))
        by_pair.setdefault(key, []).append(r)
    # lift is direction-independent: both rules of a pair carry the
    # same lift_ppm whenever both survive the gate
    for rs in by_pair.values():
        assert len({r["lift_ppm"] for r in rs}) == 1


def test_neyman_allocation_properties(spark):
    """Design invariants: quotas sum exactly to the budget (Hamilton
    never over/under-fills), weights follow the N·MAD ordering, and
    the cap respects availability."""
    from fxblue_etl_spark.operators.corpusops import (
        NEYMAN_BUDGET,
        neyman_allocation,
    )

    rows = neyman_allocation(spark, SF_DIR).collect()
    assert rows
    assert sum(r["final_quota"] for r in rows) == NEYMAN_BUDGET
    for r in rows:
        assert 0 <= r["capped_quota"] <= min(r["final_quota"], r["n_docs"])
        assert r["extra"] in (0, 1)
    # allocation is monotone in the weight (same budget, same sum):
    # a strictly larger weight never receives a smaller base quota
    by_w = sorted(rows, key=lambda r: r["weight_e6"])
    for a, b in zip(by_w, by_w[1:]):
        assert a["base_quota"] <= b["base_quota"]


def test_rbo_is_exact_rational_and_monotone(spark):
    """RBO invariants: the e6 values match a Fraction replay of the
    truncated RBO from the matched depths, the series is
    non-decreasing in depth, and bounded by 1e6."""
    from fractions import Fraction

    from fxblue_etl_spark.operators.retrieval import (
        RBO_K,
        ranking_rbo_report,
    )

    rows = {r["d"]: r for r in ranking_rbo_report(spark, SF_DIR).collect()}
    assert sorted(rows) == list(range(1, RBO_K + 1))
    # replay the matched depths from the report itself: overlap_d is
    # cumulative in d, so the per-depth increments reconstruct the
    # multiset of match depths m exactly
    ms = []
    prev_overlap = 0
    for d in range(1, RBO_K + 1):
        ms += [d] * (rows[d]["overlap_d"] - prev_overlap)
        prev_overlap = rows[d]["overlap_d"]
    p = Fraction(9, 10)
    prev = -1
    for d in range(1, RBO_K + 1):
        a_ds = [sum(1 for m in ms if m <= dd) for dd in range(1, d + 1)]
        rbo = (1 - p) * sum(
            p ** (dd - 1) * Fraction(a, dd)
            for dd, a in zip(range(1, d + 1), a_ds)
        )
        expect = (1_000_000 * rbo.numerator) // rbo.denominator
        assert rows[d]["rbo_e6"] == expect
        assert rows[d]["overlap_d"] == a_ds[-1]
        assert prev <= rows[d]["rbo_e6"] <= 1_000_000
        prev = rows[d]["rbo_e6"]
    assert ms, "legs share no top-K docs — fixture made the test vacuous"


def test_simhash_hamming_banding_is_lossless(spark):
    """Pigeonhole guarantee: the banded candidate join finds exactly
    the pairs a brute-force 64-bit Hamming scan over the SAME
    signature frame finds at radius SIMHAM_T."""
    from fxblue_etl_spark.operators.dedup import (
        SIMHAM_T,
        _simhash64_sigs,
        simhash_hamming_neardup,
    )

    got = sorted(
        map(tuple, simhash_hamming_neardup(spark, SF_DIR).collect())
    )
    sigs = _simhash64_sigs(spark, SF_DIR).collect()
    brute = sorted(
        (a["doc_id"], b["doc_id"],
         bin(a["lo"] ^ b["lo"]).count("1")
         + bin(a["hi"] ^ b["hi"]).count("1"))
        for i, a in enumerate(sigs)
        for b in sigs[i + 1:]
        if bin(a["lo"] ^ b["lo"]).count("1")
        + bin(a["hi"] ^ b["hi"]).count("1") <= SIMHAM_T
    )
    brute = sorted(
        (min(x, y), max(x, y), h) for x, y, h in brute
    )
    assert got == brute
    assert got, "no near-dup pairs at radius 3 — vacuous fixture"


def test_streaming_bloom_matches_batch_and_multibatch(spark):
    """Incremental ≡ rebuild for the streaming Bloom maintenance:
    the multi-split streamed state equals the single-split (≡ batch)
    state word-for-word, and the run really processed multiple
    micro-batches."""
    from fxblue_etl_spark.streaming.pipelines import (
        streaming_bloom_maintenance,
    )

    progress: list = []
    multi = sorted(
        map(
            tuple,
            streaming_bloom_maintenance(
                spark, SF_DIR, progress, n_splits=4
            ).collect(),
        )
    )
    single = sorted(
        map(
            tuple,
            streaming_bloom_maintenance(spark, SF_DIR, n_splits=1).collect(),
        )
    )
    assert multi == single
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 4


def test_hll_and_cms_upsert_contracts(spark):
    """Sketch-merge algebra: zero mismatches, identical checksums,
    both halves contribute."""
    from fxblue_etl_spark.operators.temporal import (
        countmin_upsert_equivalence,
    )
    from fxblue_etl_spark.plans.stats import hll_upsert_equivalence

    h = hll_upsert_equivalence(spark, SF_DIR).first()
    assert h["n_mismatch"] == 0 and h["merge_equals_rebuild"] == 1
    assert h["merged_checksum"] == h["rebuild_checksum"]
    assert h["n_registers_base"] > 0 and h["n_registers_delta"] > 0

    c = countmin_upsert_equivalence(spark, SF_DIR).first()
    assert c["n_mismatch"] == 0 and c["merge_equals_rebuild"] == 1
    assert c["merged_mass"] == c["rebuild_mass"]
    assert c["n_cells_base"] > 0 and c["n_cells_delta"] > 0


def test_fd_discovery_sweep_verdicts(spark):
    """Discovery ground truth: every o_orderkey→* FD holds (orderkey
    is the PK), at least one non-key FD is refuted, and pruned rows
    are exactly the sample-refuted ones (counts -1, holds 0)."""
    from fxblue_etl_spark.plans.profiling import (
        FD_SWEEP_COLS,
        fd_discovery_sweep,
    )

    rows = {(r["det"], r["dep"]): r
            for r in fd_discovery_sweep(spark, SF_DIR).collect()}
    n = len(FD_SWEEP_COLS)
    assert len(rows) == n * (n - 1)
    for dep in FD_SWEEP_COLS:
        if dep == "o_orderkey":
            continue
        r = rows[("o_orderkey", dep)]
        assert r["holds"] == 1 and r["pruned_by_sample"] == 0
        assert r["n_det"] == r["n_pair"] > 0
    assert any(r["holds"] == 0 for r in rows.values())
    for r in rows.values():
        if r["pruned_by_sample"] == 1:
            assert r["holds"] == 0
            assert r["n_det"] == -1 and r["n_pair"] == -1
        else:
            assert (r["holds"] == 1) == (r["n_det"] == r["n_pair"])


def test_session_gap_sensitivity_matches_sessionizer(spark):
    """The sweep's 1800s row must agree with the full sessionizer:
    same session count, same single-event-session count; session
    counts are monotone non-increasing in the threshold."""
    from fxblue_etl_spark.operators.windows import (
        session_gap_sensitivity,
        sessionize_events,
    )

    rows = {r["gap_s"]: r
            for r in session_gap_sensitivity(spark, SF_DIR).collect()}
    sess = sessionize_events(spark, SF_DIR).collect()
    assert rows[1800]["n_sessions"] == len(sess)
    assert rows[1800]["n_single_event"] == sum(
        1 for s in sess if s["n_events"] == 1
    )
    gaps = sorted(rows)
    for a, b in zip(gaps, gaps[1:]):
        assert rows[a]["n_sessions"] >= rows[b]["n_sessions"]
    assert rows[gaps[0]]["n_events"] == rows[gaps[-1]]["n_events"]


def test_ivm_delete_maintenance_is_load_bearing(spark):
    """The repair path must actually fire on this fixture (at least
    one group's extreme was deleted) AND at least one group must
    skip it — both branches exercised; retained counts reconcile
    with the full table minus the delete batch."""
    from pyspark.sql import functions as F

    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.plans.dq import ivm_delete_maintenance

    rows = ivm_delete_maintenance(spark, SF_DIR).collect()
    assert rows
    flags = {r["minmax_repaired"] for r in rows}
    assert 1 in flags, "no group needed min/max repair — vacuous"
    o = table(spark, SF_DIR, "orders")
    full = o.count()
    dels = o.filter(F.col("o_orderkey") % 10 == 3).count()
    assert sum(r["n_orders"] for r in rows) == full - dels


def test_dedup_threshold_sensitivity_monotone(spark):
    """Raising the threshold can only shrink the graph: edges,
    clustered docs, drop counts, and max component are all monotone
    non-increasing; the 0.5 leg matches the raw pair pass."""
    from fxblue_etl_spark.operators.dedup import ngram_jaccard_pairs
    from fxblue_etl_spark.operators.graph import (
        dedup_threshold_sensitivity,
    )

    rows = {r["t_ppm"]: r
            for r in dedup_threshold_sensitivity(spark, SF_DIR).collect()}
    ts = sorted(rows)
    for a, b in zip(ts, ts[1:]):
        for c in ("n_edges", "n_docs_clustered", "n_dropped",
                  "max_component"):
            assert rows[a][c] >= rows[b][c]
    # the lowest leg (== the pair pass's own 0.05 floor) is the raw
    # certified bigram pair graph
    assert rows[50_000]["n_edges"] == ngram_jaccard_pairs(
        spark, SF_DIR
    ).count()
    # the sweep is load-bearing on this fixture: a real elbow exists
    assert rows[ts[0]]["n_edges"] > rows[ts[-1]]["n_edges"] >= 0


def test_hll_rolling_distinct_within_error_band(spark):
    """The rolling estimate tracks the exact rolling distinct within
    HLL's 3-sigma band (3*1.04/sqrt(256) ~ 19.5%) on every day, and
    the rolling exact is >= the daily exact (windows only add)."""
    from fxblue_etl_spark.plans.stats import hll_rolling_distinct

    rows = hll_rolling_distinct(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert abs(r["err_ppm"]) <= 195_000, r
        assert r["exact_distinct"] > 0


def test_winnowing_guarantee_on_injected_copy(spark):
    """The winnowing theorem, exercised: two docs sharing a long
    verbatim fragment (>= W + K - 1 chars) MUST share fingerprints.
    Checked on the fixture's own strongest pair plus structural
    invariants (threshold respected, pairs ordered)."""
    from fxblue_etl_spark.operators.textops import (
        WINNOW_MIN_SHARED,
        winnowing_fingerprint_pairs,
    )

    rows = winnowing_fingerprint_pairs(spark, SF_DIR).collect()
    assert rows, "no fragment-sharing pairs — vacuous fixture"
    for r in rows:
        assert r["n_shared"] >= WINNOW_MIN_SHARED
        assert r["doc_a"] < r["doc_b"]
    # the fixture's near-dup docs (minhash-certified J >= 0.5 pairs)
    # share long verbatim runs, so winnowing must find them too
    from pyspark.sql import functions as F

    from fxblue_etl_spark.io import fan_out, table
    from fxblue_etl_spark.operators.dedup import lsh_jaccard_pairs

    strong = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_jaccard_pairs(
            fan_out(table(spark, SF_DIR, "documents"))
        )
        .filter(F.round("jaccard", 6) >= 0.9)
        .collect()
    }
    found = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert strong, "no J>=0.9 pairs to cross-check against"
    assert strong <= found, strong - found


def test_mmr_trades_relevance_for_diversity(spark):
    """MMR invariants: rank 1 is the pure-relevance argmax over the
    pool; every pick's mmr2 equals rel − msim; and the selection
    genuinely diverges from the plain top-K relevance list on this
    fixture (the diversity term is load-bearing).  Note mmr2 is NOT
    monotone across rounds: a candidate anti-correlated with the
    selected set (negative max-sim) can out-score round 1's
    pure-relevance pick — by design."""
    from fxblue_etl_spark.operators.ml import (
        MMR_K,
        mmr_diverse_topk,
    )

    rows = sorted(
        mmr_diverse_topk(spark, SF_DIR).collect(), key=lambda r: r["rank"]
    )
    assert len(rows) == MMR_K
    assert rows[0]["msim_at_pick"] == 0
    assert rows[0]["rel"] == max(r["rel"] for r in rows)
    for r in rows:
        assert r["mmr2"] == r["rel"] - r["msim_at_pick"]
    assert len({r["vec_id"] for r in rows}) == MMR_K
    # diversity is load-bearing: MMR's picks differ from the pure
    # relevance top-K ORDER
    by_rel = sorted(rows, key=lambda r: (-r["rel"], r["vec_id"]))
    assert [r["vec_id"] for r in rows] != [r["vec_id"] for r in by_rel]


def test_conformal_gate_coverage_guarantee(spark):
    """The conformal guarantee, empirically: every event type's test
    coverage is >= 1 - alpha minus finite-sample slack (3 sigma of
    a Bernoulli(0.9) mean at the observed n_test), the threshold is
    a real calibration value, and k is the conformal rank."""
    from fxblue_etl_spark.plans.stats import (
        CONF_A_DEN,
        CONF_A_NUM,
        conformal_quantile_gate,
    )

    rows = conformal_quantile_gate(spark, SF_DIR).collect()
    assert rows
    target = 1 - CONF_A_NUM / CONF_A_DEN
    for r in rows:
        assert r["k_rank"] == -(-(r["n_cal"] + 1) * 9 // 10)
        slack = 3 * (target * (1 - target) / r["n_test"]) ** 0.5
        assert r["coverage_ppm"] / 1e6 >= target - slack, r
