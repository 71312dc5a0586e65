"""Benchmark harness — times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (COMPACT — guaranteed to fit the driver's
2000-char stdout tail capture; see ``compact_stdout_record``):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "frozen15_total": ..., "frozen27_total": ..., "load_tainted_n": N}
The full per-query detail (loads, redraws, prev_draws) is written
to $SPARK_GRAFT_BENCH_OUT (default BENCH_LOCAL_r{NN}_c{cpus}.json).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_REPO = Path(__file__).resolve().parent


def _default_out_path() -> str:
    """Builder-written per-round bench record (round-9 verdict item
    6: the driver's BENCH_r*.json carried ``parsed: null`` two rounds
    running with only a 2000-char tail surviving, so round-over-round
    comparison depended on COVERAGE.md prose).  The in-flight round
    is 1 + the newest CORRECTNESS file on disk — the driver writes
    CORRECTNESS_r{N} at the END of round N."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for f in glob.glob(str(_REPO / "CORRECTNESS_r*.json"))
        if (m := re.search(r"_r(\d+)\.json$", f))
    ]
    n = max(rounds) + 1 if rounds else 0
    # cpu count in the name (round-14 verdict What's-wrong #4): the
    # driver's 8-core scaling run OVERWROTE the 32-core detail file
    # because the path keyed on round only — both runs of a round must
    # land side by side
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    return str(_REPO / f"BENCH_LOCAL_r{n:02d}_c{cpus}.json")


#: where the full per-query record lands (committed per round so
#: tools/bench_compare.py consumes two builder-written files
#: directly); empty string disables the write
BENCH_OUT = os.environ.get("SPARK_GRAFT_BENCH_OUT", _default_out_path())

#: Headline set: one representative per operator family — kept to
#: queries whose runtime reflects engine quality rather than
#: driver-side row fetch (all are aggregates or bounded outputs).
HEADLINE = (
    # relational workhorses: scan/join/agg/window
    "flagship_account_pnl",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "rollup_returns",
    "topk_orders_per_customer",
    "events_json_extract",
    "exact_distinct_and_quantiles",
    # wider TPC-H shapes
    "q10_returned_items",
    "q18_large_volume_orders",
    # temporal operators
    "asof_purchase_view",
    "time_bucket_rollup",
    "heavy_hitters_exact",
    # LLM-pipeline surface
    "minhash_lsh_pairs",
    "llm_corpus_prep",
    # round-4 additions (APPENDED — the 15 above stay frozen so
    # round-over-round totals remain comparable on their subset).
    # As of round 5 the FULL 27-query set below is frozen too
    # (round-4 verdict item 5): BENCH_rN reports the same 27 keys
    # plus frozen15_total and frozen27_total from here on.
    "ohlc_bars_hourly",
    "containment_pairs",
    "rag_corpus_prep",
    # round-4 in-round widening representatives
    "pq_adc_topk",
    "streaming_cdc_scd2",
    "perplexity_bucket_cutoffs",
    # continuation-wave representatives (APPENDED)
    "quality_feature_matrix",
    "streaming_lsh_dedup",
    "triplet_margin_mining",
    "fx_ingest_end_to_end",
    # fourth-wave representatives (APPENDED)
    "bm25_rational_topk",
    "join_skew_report",
    # round-8 additions (APPENDED — frozen15/frozen27 subtotals are
    # computed from the first 15/27 entries and stay comparable; the
    # full `value` covers everything timed).  The exact margin miner
    # is deliberately NOT benched: margin_bitext_mine_blocked is its
    # production path and the exact sibling exists as the
    # ground-truth instrument (COVERAGE.md round-8 stress notes).
    # (round-13 out-rotations from this block, same one-per-spine
    # economy as the r11 retirements below: ivf_upsert_equivalence —
    # the upsert≡rebuild family now benches bloom/hll/countmin and
    # the IVF build spine rides ivf_pq_adc_topk;
    # truncation_recall_report — the BM25 ranking spine rides the
    # frozen bm25_rational_topk; streaming_quality_gate — staged-
    # stream harness cost, the streaming_kmv_distinct precedent.
    # All three carry standing numbers in BENCH_LOCAL_r08-r12.)
    "margin_bitext_mine_blocked",
    "null_ordering_semantics",
    # round-9 additions (APPENDED — frozen subtotals untouched):
    # the portable-sketch family completions and the exact rank
    # statistic; streaming_kmv_distinct is deliberately NOT benched
    # (its cost is the staged-stream harness, not the operator —
    # the batch sketch path is timed via portable_kmv_setops)
    "portable_kmv_setops",
    "portable_qdigest_quantiles",
    "spearman_rank_corr",
    "media_ahash_neardup",
    "kcore_decomposition",
    "ivf_pq_adc_topk",
    # round-10 additions (APPENDED — frozen subtotals untouched):
    # one representative per new family — the fourth dedup blocker,
    # the spectral pair, coverage selection, storage-level dedup,
    # the one-pass bootstrap, keyless linkage, the sync tree, and
    # the hybrid skew join; the streaming gram gate is deliberately
    # NOT benched (staged-stream harness cost, not operator cost —
    # the batch statistic is timed via pca_power_iteration's gram)
    "snm_sorted_neighborhood_pairs",
    "pca_power_iteration",
    "kcenter_coreset",
    "cdc_chunk_dedup",
    "poisson_bootstrap_ci",
    "record_linkage_fs",
    "merkle_table_digest",
    "hybrid_skew_join_revenue",
    # round-11 additions (APPENDED — frozen subtotals untouched):
    # one representative per new family — the SlimPajama chunk
    # rewrite, the two-sample drift test, the privacy EMD, the CUSUM
    # monitor, the Hilbert layout, KN smoothing, and the fixed-width
    # source.  Deliberately NOT benched: streaming_observed_metrics
    # (staged-stream harness cost, per precedent),
    # greedy_max_cover_selection and query_expansion_prf (K-round /
    # two-pass compositions whose cost is their certified parts), and
    # ks_two_sample / compaction_tier_plan / linkage_greedy_assignment
    # (same spines as benched siblings; the stdout budget guard
    # prefers one representative per spine)
    "chunk_dedup_rewrite",
    "mann_whitney_u",
    "t_closeness_audit",
    "cusum_drift_monitor",
    "hilbert_clustering_stats",
    "kneser_ney_bigram_lm",
    "fwf_ingest",
    # round-12 widening (APPENDED — frozen subtotals untouched):
    # the round-11 verdict (item 4) asked for first-exposure numbers
    # on ALL round-11 additions, reversing the one-per-spine economy
    # above — in particular ks_two_sample quantifies the
    # mann_whitney_u spine reuse (the merged-grid swap_cache makes
    # the second consumer near-free within a session), and the two
    # staged-stream entries time the harness cost explicitly rather
    # than leaving it unmeasured.
    # (round-14 out-rotations from this pair, same one-per-spine
    # economy as the r11/r13 retirements: embedding_pca_project —
    # its cost is the pca_power_iteration gram spine, benched below;
    # scd2_asof_consistency — the streaming_cdc_scd2 spine is frozen
    # above.  Both carry r12 first-exposure + r13 HEADLINE numbers.)
    # round-13 rotation (planned at bench.py round-12 close and in
    # the round-12 verdict item 3): the 16 benchable round-12
    # additions rotate IN (their first-exposure numbers live in
    # COVERAGE.md round 12); the five round-11 one-exposure
    # spine-duplicate entries rotate OUT (ks_two_sample,
    # compaction_tier_plan, linkage_greedy_assignment,
    # query_expansion_prf, greedy_max_cover_selection — each one's
    # cost is a benched sibling's spine, with the one-exposure
    # number on record), and the two staged-stream one-exposure
    # entries (streaming_cusum_monitor, streaming_observed_metrics)
    # rotate out by the standing streaming_kmv_distinct precedent:
    # their cost is the per-file-trigger harness, not the operator,
    # and the r12 record carries the measured harness number.
    "corpus_release_end_to_end",
    "compaction_plan_execute",
    "dbscan_projection_clusters",
    "bloom_upsert_equivalence",
    "association_rules_topk",
    "neyman_allocation",
    "ranking_rbo_report",
    "simhash_hamming_neardup",
    "streaming_bloom_maintenance",
    # (round-14 out-rotations: hll_upsert_equivalence and
    # countmin_upsert_equivalence — the upsert≡rebuild family keeps
    # bloom_upsert_equivalence as its benched representative and all
    # three carry r12 first-exposure + r13 HEADLINE numbers)
    "fd_discovery_sweep",
    "session_gap_sensitivity",
    "ivm_delete_maintenance",
    "dedup_threshold_sensitivity",
    # round-14 rotation (planned in the round-13 ROTATION NOTE and
    # round-13 verdict item 3): one representative per new round-13
    # family rotates IN (the other 14 benchable r13 additions carry
    # COVERAGE.md round-13 first-exposure numbers and stay
    # measured-outside); four one-exposure spine duplicates rotate
    # OUT (named above) to hold the stdout budget.
    "fastss_editdist1_pairs",
    "lsh_s_curve_planner",
    "mixture_temperature_weights",
    "twap_by_event_type",
    # TIMED LAST by design (round-13 verdict items 2+3): the one
    # >20s exact pair join on the surface — an honest output-driven
    # PPJoin (e = 0.79), but its measurement ramps the 1-minute load
    # past the taint threshold, so running it last stops it
    # pre-loading every entry behind it.  Keeping it in HEADLINE
    # (rather than a measured-outside slot) preserves its
    # round-over-round number.
    "prefix_filter_jaccard_pairs",
)

#: the frozen round-1..3 comparison subset (first 15 of HEADLINE)
FROZEN_N = 15

#: the round-4 extended set, frozen as of round 5 (all 27 entries)
FROZEN27_N = 27


#: timed executions per query; the median filters out one-off JVM /
#: GC / session-state noise (round 2 showed >50% swings on
#: byte-identical queries when a single execution was timed; round 5
#: measured ±30% swings from HOST load — other containers — so the
#: median takes five draws and the emitted JSON records the load
#: average for cross-round context)
N_RUNS = 5

#: load-aware start gate (round-5 verdict item 4): numbers taken on a
#: busy host needed manual adjudication every round, so bench now
#: WAITS for the 1-minute load average to drop below this before
#: timing anything, up to LOAD_WAIT_MAX_S.  If the host never goes
#: quiet the run proceeds and stamps an explicit waiver field so the
#: reader knows the numbers are load-contaminated.  Tune or disable
#: with SPARK_GRAFT_MAX_LOAD (<=0 disables).
MAX_START_LOAD = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "2.0"))
#: bounded so a driver-invoked bench can never stall indefinitely
#: behind a busy co-tenant — past this it runs and stamps the waiver
LOAD_WAIT_MAX_S = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT_MAX_S", "300"))
_LOAD_POLL_S = 10.0

#: mid-run taint threshold (round-7 verdict item 2): the start gate
#: can't see co-tenant load that arrives AFTER timing begins — round
#: 7's run started at load 1.95 and finished at 12.5, polluting 13
#: entries whose adjudication took manual forensics.  The bench's own
#: steady-state contribution on this 32-cpu host is ~4-6 (measured
#: rounds 5-7), so a per-query 1-minute load at or above this
#: threshold means a co-tenant wave was riding the measurement: the
#: entry is stamped load-tainted, and once the full pass finishes the
#: tainted queries are re-drawn ONCE if the wave has receded —
#: keeping round-over-round deltas machine-readable instead of
#: needing manual load forensics.
TAINT_LOAD = float(os.environ.get("SPARK_GRAFT_TAINT_LOAD", "8.0"))

#: bounded wait before the tainted-entry re-draw pass: a mid-run
#: wave often outlives the run by a minute or two, so give it a
#: chance to recede before declaring the re-draw impossible (same
#: posture as the start gate — never stall a driver-invoked bench
#: indefinitely)
#: 180 → 420 at round 14 (round-13 verdict item 1: the r13 driver
#: draw's wave outlived the 180s budget, so the quiet-gate never
#: opened and tainted first draws became the recorded totals; the
#: extra four minutes are only ever spent when entries ARE tainted)
REDRAW_WAIT_MAX_S = float(
    os.environ.get("SPARK_GRAFT_REDRAW_WAIT_MAX_S", "420")
)

#: bounded attempts per tainted entry (round-13 verdict item 1:
#: "attempts > 1" — a redraw that itself ran hot gets more chances
#: while the shared budget lasts, instead of poisoning the record
#: permanently on a busy hour)
REDRAW_MAX_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_REDRAW_ATTEMPTS", "3"))

#: dedicated-frozen-pass settle gate (round-12 verdict item 1): after
#: warming ONLY the frozen27 subset, wait (bounded) for the warmup's
#: own 1-minute load to drain before timing it — the frozen
#: round-over-round subtotals must not absorb HEADLINE-growth
#: self-load (the r12 redraw pass demonstrably could not cure
#: load 4-7 because the bench's own steady state sits there)
FROZEN_SETTLE_LOAD = float(os.environ.get("SPARK_GRAFT_FROZEN_SETTLE_LOAD", "3.0"))
FROZEN_SETTLE_MAX_S = float(
    os.environ.get("SPARK_GRAFT_FROZEN_SETTLE_MAX_S", "120")
)


#: hard budget for the ONE stdout line (round-10 verdict item 1):
#: the driver records only a 2000-char tail of bench stdout, and
#: BENCH_r08-r10 all landed `parsed: null` because the full record
#: (46-query map + per-query loads + redraws + prev_draws +
#: lineage A/B) overflowed it.  stdout now carries a COMPACT record
#: — the driver-contract fields plus the frozen subtotals and a
#: taint count — and the full detail lands only in BENCH_OUT.  The
#: guard below keeps the line parseable even as HEADLINE grows.
#: 1900 → 1980 at round 13: the 68-entry HEADLINE's worst case (every
#: value two digits at integer precision) measures 1,949 chars — the
#: driver captures a 2000-char TAIL and this line prints last, so a
#: ≤1980 line always survives whole; the old 100-char headroom bought
#: nothing but coverage truncation
STDOUT_BUDGET = 1980


def _dumps(obj: dict) -> str:
    """Compact-separator dump — the stdout line's exact encoding
    (must match the ``print`` in main(), so the budget check below
    measures the real line; default separators wasted ~145 chars at
    the round-12 HEADLINE size)."""
    return json.dumps(obj, separators=(",", ":"))


def compact_stdout_record(record: dict) -> dict:
    """The driver-facing subset of a full bench record: contract
    fields (metric/value/unit/queries/sf), the frozen round-over-
    round subtotals, start/end load, and a taint COUNT (names live
    in the detail file).  If the per-query map would push the line
    past STDOUT_BUDGET, per-query precision degrades to 0.1s first
    (full coverage beats centisecond resolution — round-11 verdict
    item 4 wants EVERY entry's first-exposure number on the driver
    record), then the map is cut to the frozen27 subset (then
    dropped entirely) — the driver's record stays parseable no
    matter how many queries later rounds append."""
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "queries": {k: round(v, 2) for k, v in record["queries"].items()},
        "sf": record["sf"],
        "frozen15_total": record["frozen15_total"],
        "frozen27_total": record["frozen27_total"],
        # start load only — the end load, the per-query loads, and
        # the detail-file name ride BENCH_OUT (committed per round);
        # at the round-12 HEADLINE size every stdout char is spoken
        # for by query names (1,214 chars of the budget), and full
        # per-query coverage outranks redundant context fields
        "load_avg_start": record["load_avg_start"],
        "load_tainted_n": len(record["load_tainted"]),
    }
    if len(_dumps(compact)) > STDOUT_BUDGET:
        compact["queries"] = {
            k: max(0.1, round(v, 1)) for k, v in compact["queries"].items()
        }
    if len(_dumps(compact)) > STDOUT_BUDGET:
        # round-13: at the 71-entry HEADLINE even 0.1s precision
        # overflows — degrade to integer-decisecond-free seconds
        # before sacrificing coverage (full coverage still beats
        # resolution; BENCH_LOCAL_r{NN}_c{cpus}.json keeps the millisecond
        # detail and is committed every round).
        # round-15 (r14 verdict What's-wrong #1): integer rounding
        # printed measured sub-second entries as 0 and the driver's
        # comparator counted them dropped (asof_purchase_view 0.543s,
        # ohlc_bars_hourly 0.554s) — a measured entry must never emit
        # as 0, so values under 0.95s keep one decimal floored at 0.1
        compact["queries"] = {
            k: (int(round(v)) if v >= 0.95 else max(0.1, round(v, 1)))
            for k, v in compact["queries"].items()
        }
    if len(_dumps(compact)) > STDOUT_BUDGET:
        compact["queries"] = {
            k: v
            for k, v in compact["queries"].items()
            if k in HEADLINE[:FROZEN27_N]
        }
        compact["queries_truncated"] = True
    if len(_dumps(compact)) > STDOUT_BUDGET:
        compact["queries"] = {}
    return compact


def _redraw_tainted_pass(names, timings, query_loads, measure):
    """Tainted-entry re-draw (round-7 verdict item 2, per-query gate
    round-11 verdict item 3): if a co-tenant wave rode part of the
    run, re-measure exactly the entries whose measurement-end load
    was >= TAINT_LOAD, replacing a number only when the redraw
    itself ran below the threshold.  The single up-front wait of
    rounds 7-11 let one lingering wave void the WHOLE redraw pass
    (the r11 canonical shipped 17 tainted entries), so each entry
    now gets its own bounded wait-for-quiet against a SHARED
    REDRAW_WAIT_MAX_S budget, and an entry whose redraw itself ran
    hot gets one more attempt while budget remains.  Entries still
    hot after this stay stamped in load_tainted so readers (and the
    round deltas) see contaminated numbers as contaminated, not as
    regressions.  Mutates timings/query_loads in place; returns the
    per-entry first-draw/redraw record."""
    redraws: dict[str, dict[str, float]] = {}
    tainted = [n for n in names if query_loads[n] >= TAINT_LOAD]
    if not tainted:
        return redraws
    t0 = time.time()

    def _wait_quiet() -> bool:
        while time.time() - t0 < REDRAW_WAIT_MAX_S:
            if os.getloadavg()[0] < TAINT_LOAD:
                return True
            time.sleep(_LOAD_POLL_S)
        return os.getloadavg()[0] < TAINT_LOAD

    queue = list(tainted)
    attempts: dict[str, int] = {}
    while queue:
        name = queue.pop(0)
        attempts[name] = attempts.get(name, 0) + 1
        if not _wait_quiet():
            break
        t2, l2 = measure(name)
        redraws[name] = {
            "first_sec": redraws.get(name, {}).get(
                "first_sec", timings[name]
            ),
            "first_load": redraws.get(name, {}).get(
                "first_load", query_loads[name]
            ),
            "redraw_sec": t2,
            "redraw_load": l2,
            "attempts": attempts[name],
        }
        if l2 < TAINT_LOAD and t2 <= timings[name]:
            # quiet AND no slower than the first draw: adopt it.
            # The second condition is new at round 14: a late redraw
            # runs under the residual decay of the redraws before it
            # (the shared wait budget is spent by then, so _wait_quiet
            # stops waiting), and its end-of-measurement load stamp
            # can read quiet while its early runs were contaminated —
            # the r14 first draw saw 16 such redraws REPLACE faster
            # first draws (association_rules 2.0s → 7.7s "quiet").
            # Contention only ever inflates a deterministic
            # computation, so the smaller of two honest draws is the
            # better estimate; both draws stay in the record.
            timings[name], query_loads[name] = t2, l2
        elif l2 >= TAINT_LOAD and attempts[name] < REDRAW_MAX_ATTEMPTS:
            queue.append(name)
    return redraws


def _wait_for_quiet_host() -> tuple[float, float | None]:
    """Block until load_avg_1m < MAX_START_LOAD or the wait budget is
    spent.  Returns (load at go-time, waived seconds or None)."""
    load = os.getloadavg()[0]
    if MAX_START_LOAD <= 0 or load < MAX_START_LOAD:
        return load, None
    t0 = time.time()
    while time.time() - t0 < LOAD_WAIT_MAX_S:
        time.sleep(_LOAD_POLL_S)
        load = os.getloadavg()[0]
        if load < MAX_START_LOAD:
            return load, None
    return load, round(time.time() - t0, 1)


def main() -> None:
    import statistics

    import __spark_entry__ as entrymod
    from fxblue_etl_spark.session import get_spark

    load_start, load_waiver = _wait_for_quiet_host()
    spark = get_spark("bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    # DEDICATED FROZEN PASS (round-12 verdict item 1): the frozen15/27
    # round-over-round subtotals were absorbing whole-run self-load —
    # warming all of HEADLINE pushed the 1-minute load to 4-7 before
    # the first frozen entry was timed, so the subset comparison
    # moved with HEADLINE growth, not code (r11 8.93 → r12 12.28 on
    # the canonical draws; the interleaved same-session A/B shows
    # code parity).  The frozen subset is therefore warmed and timed
    # FIRST, in its own settle-gated pass, before the rest of
    # HEADLINE is even warmed; the full record stamps
    # frozen_pass="dedicated" — expect a one-time level shift DOWN
    # in frozen subtotals at round 13 from methodology, not code.
    frozen = [n for n in names if n in set(HEADLINE[:FROZEN27_N])]
    rest = [n for n in names if n not in set(HEADLINE[:FROZEN27_N])]
    # warm the JVM + file listings once so timings measure the plans
    for name in frozen:
        qs[name](spark, SF_DIR).limit(1).collect()

    from fxblue_etl_spark.io import drain_all

    def _steal_total() -> tuple[int, int]:
        """(steal jiffies, total jiffies) from /proc/stat — the
        co-tenant signal the 1-minute loadavg CANNOT see: loadavg
        counts this VM's runnable tasks, while a noisy hypervisor
        neighbour steals cycles invisibly (measured 7.4% steal under
        full load during the r14 draws, and draw-over-draw swings of
        2-3× on byte-identical code at loadavg < 3).  Recorded per
        query in the detail file so taint adjudication is
        evidence-based instead of forensic."""
        try:
            parts = open("/proc/stat").readline().split()
            vals = [int(x) for x in parts[1:]]
            return vals[7], sum(vals)
        except Exception:
            return 0, 0

    query_steal: dict[str, float] = {}

    def _measure(name: str) -> tuple[float, float]:
        """One median-of-N_RUNS measurement of a query, with the
        1-minute load at measurement end.  Every run starts from a
        drained pin registry (swap_cache slots and fixture memos
        alike), so each timed run pays its own cache and index build
        exactly like a cold driver call."""
        s0, j0 = _steal_total()
        runs = []
        for _ in range(N_RUNS):
            drain_all(spark)
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            # full execution; limit only caps driver-side transfer
            # (all headline queries are aggregates/bounded outputs)
            _ = df.limit(10000).collect()
            runs.append(time.time() - t0)
        s1, j1 = _steal_total()
        if j1 > j0:
            query_steal[name] = round(100.0 * (s1 - s0) / (j1 - j0), 2)
        return round(statistics.median(runs), 3), round(os.getloadavg()[0], 2)

    # let the frozen warmup's own load drain (bounded) so the frozen
    # subset is timed as close to the start-gate posture as the
    # bench's steady state allows
    settle_t0 = time.time()
    while (
        time.time() - settle_t0 < FROZEN_SETTLE_MAX_S
        and os.getloadavg()[0] >= FROZEN_SETTLE_LOAD
    ):
        time.sleep(_LOAD_POLL_S)
    frozen_go_load = round(os.getloadavg()[0], 2)

    timings: dict[str, float] = {}
    query_loads: dict[str, float] = {}
    # inter-entry gate (round-13 verdict item 1b: the r13 frozen
    # pass went quiet at go [2.73] and ramped to 15.56 INSIDE the
    # pass — the pass taints itself if the gate only runs at start).
    # Before each frozen entry, a bounded wait lets a co-tenant wave
    # recede; the threshold is TAINT_LOAD, not FROZEN_SETTLE_LOAD,
    # because the bench's own 1-minute decay sits at 4-6 between
    # entries and gating on 3.0 would stall every step on self-load.
    inter_budget_t0 = time.time()
    for name in frozen:
        while (
            time.time() - inter_budget_t0 < FROZEN_SETTLE_MAX_S * 2
            and os.getloadavg()[0] >= TAINT_LOAD
        ):
            time.sleep(_LOAD_POLL_S)
        # per-query 1-minute load at measurement end: co-tenant load
        # arrives in waves, so a start/end pair can't say WHICH
        # entries ran hot — this can (rounds 6-7 adjudicated three
        # "regressions" that were exactly such waves)
        timings[name], query_loads[name] = _measure(name)
    # frozen-tainted redraw HERE, before the rest of HEADLINE is even
    # warmed (round-13 advice item 5: a late redraw runs under
    # exactly the HEADLINE-growth self-load the dedicated pass
    # exists to exclude) — so the frozen15/27 subtotals come from
    # post-redraw values measured in the dedicated-pass posture
    frozen_redraws = _redraw_tainted_pass(
        frozen, timings, query_loads, _measure
    )
    frozen_pass_end_load = round(os.getloadavg()[0], 2)
    for name in rest:
        qs[name](spark, SF_DIR).limit(1).collect()
    for name in rest:
        timings[name], query_loads[name] = _measure(name)

    # end-of-run redraw covers the non-frozen entries only: frozen
    # entries already had their settle-gated chance above, and a
    # whole-run-context redraw would reintroduce the level shift the
    # dedicated pass removed
    redraws = _redraw_tainted_pass(rest, timings, query_loads, _measure)
    load_tainted = sorted(n for n in names if query_loads[n] >= TAINT_LOAD)

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    total = round(sum(timings.values()), 3)
    frozen_total = round(
        sum(timings.get(n, 0.0) for n in HEADLINE[:FROZEN_N]), 3
    )
    record = (
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "frozen15_total": frozen_total,
                "frozen27_total": round(
                    sum(timings.get(n, 0.0) for n in HEADLINE[:FROZEN27_N]), 3
                ),
                # round-13 methodology stamp: frozen subtotals come
                # from the dedicated settle-gated first pass (not the
                # whole-run context) — a one-time level shift down vs
                # r12 and earlier is methodology, not code
                "frozen_pass": {
                    "mode": "dedicated",
                    "go_load": frozen_go_load,
                    "end_load": frozen_pass_end_load,
                    # round-14: frozen entries redraw INSIDE the
                    # dedicated pass (before the rest of HEADLINE is
                    # warmed), so subtotals are post-redraw values at
                    # dedicated-pass posture
                    "redraws": frozen_redraws,
                },
                # 1-minute host load at start/end: bench numbers on a
                # shared host swing ±30% with co-tenant load — readers
                # should weigh deltas against these
                "load_avg_start": round(load_start, 2),
                "load_avg_end": round(os.getloadavg()[0], 2),
                # 1-minute load sampled as each query's median lands —
                # attributes mid-run co-tenant waves to the entries
                # they actually contaminated
                "query_loads": query_loads,
                # hypervisor steal %% across each query's measurement
                # window (loadavg is blind to co-tenants OUTSIDE the
                # VM; steal is the direct evidence — round 14)
                "query_steal_pct": query_steal,
                # None = started below MAX_START_LOAD; a number = the
                # host never went quiet within the wait budget and the
                # run proceeded anyway after waiting this many seconds
                "load_waiver_waited_s": load_waiver,
                "max_start_load": MAX_START_LOAD,
                # entries whose (post-redraw) measurement load was
                # >= TAINT_LOAD — treat their deltas as co-tenant
                # noise, not engine changes
                "load_tainted": load_tainted,
                "taint_load": TAINT_LOAD,
                # first-draw vs re-draw record for every entry that
                # got a second chance (empty when the run was clean)
                "redraws": redraws,
            }
    )
    print(_dumps(compact_stdout_record(record)))
    if BENCH_OUT:
        # keep a compact summary of any earlier draw this round so a
        # re-draw doesn't erase the history bench_compare can't hold
        prev_draws = []
        out = Path(BENCH_OUT)
        if out.exists():
            try:
                prev = json.load(open(out))
                prev_draws = prev.get("prev_draws", [])
                prev_draws.append(
                    {
                        k: prev.get(k)
                        for k in (
                            "value",
                            "frozen15_total",
                            "frozen27_total",
                            "load_avg_start",
                            "load_avg_end",
                            "load_tainted",
                            "sf",
                        )
                    }
                )
            except ValueError:
                pass
        record["prev_draws"] = prev_draws
        out.write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
