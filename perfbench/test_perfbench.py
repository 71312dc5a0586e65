"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m pytest perfbench -q

No Spark session is started: these check the code that turns timings
into metrics and the inputs the workloads feed the engine.
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import fxgen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_warm_up_runs_a_fixed_number_of_rounds():
    bench = SimpleNamespace(warm_s=0.0, extra={})
    calls = []

    def run_round(k):
        calls.append(k)
        return 10.0 / (k + 1)

    workloads._warm_up(bench, run_round, 3)
    assert calls == [0, 1, 2]
    assert bench.extra["warm_rounds"] == [10.0, 5.0, 3.333]


def test_tree_cpu_counts_this_process():
    import host

    before = host.tree_cpu_s()
    x = 0
    for i in range(3_000_000):
        x += i % 7
    assert host.tree_cpu_s() > before
    assert host.jit_cpu_s(None) == 0.0


def test_error_and_mismatch_both_count_as_failed():
    ok = {"digest": "a", "expected": "a", "error": None}
    wrong = {"digest": "b", "expected": "a", "error": None}
    raised = {"digest": None, "expected": "a", "error": "ValueError: x"}
    assert stats.count_failed([ok, wrong, raised, ok]) == (4, 2)
    assert stats.count_failed([]) == (0, 0)


def test_union_length_merges_overlaps_and_gaps():
    assert stats.union_length([]) == 0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert stats.union_length([(2, 3), (0, 10)]) == pytest.approx(10.0)
    # the driver gap is the op's wall time minus this union
    assert 10.0 - stats.union_length([(1, 4), (3, 5), (7, 8)]) == pytest.approx(5.0)


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 4.0, "end": 5.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_digest_ignores_row_and_column_order_but_not_values():
    a = stats.digest(["x", "Y"], [(1, "a"), (2, None)])
    b = stats.digest(["y", "x"], [(None, 2), ("a", 1)])
    assert a == b
    assert a != stats.digest(["x", "y"], [(1, "a"), (2, "b")])
    # an integer and a float render differently, as in tools/verify_local.py
    assert stats.digest(["x"], [(5,)]) != stats.digest(["x"], [(5.0,)])


def test_generator_is_deterministic(tmp_path):
    a = fxgen.generate(5, str(tmp_path / "a"), 2)
    b = fxgen.generate(5, str(tmp_path / "b"), 2)
    c = fxgen.generate(6, str(tmp_path / "c"), 2)
    assert a.digest == b.digest
    assert a.digest != c.digest
    for pa_, pb in zip(sorted(Path(a.root).rglob("*.csv")), sorted(Path(b.root).rglob("*.csv"))):
        assert pa_.read_bytes() == pb.read_bytes()


def test_truth_applies_gate_dedup_and_preserve_policy(tmp_path):
    inputs = fxgen.generate(9, str(tmp_path), 2)
    truth = fxgen.Truth(inputs)
    enriched = {t for t, r in truth.hist.items() if r["gpt_inferred_strategy"] is not None}
    before = len(truth.hist)
    for b in inputs.batches:
        truth.apply(b)
    assert truth.skipped == [b.gated for b in inputs.batches]
    # every new ticket lands once, duplicates and re-exports add no rows
    assert len(truth.hist) == before + 2 * fxgen.BATCH_ROWS
    # K1: enrichment of re-exported base tickets survives
    assert all(truth.hist[t]["gpt_inferred_strategy"] is not None for t in enriched)
    ledger = truth.ledger()
    assert sum(n for n, _ in ledger.values()) == len(truth.hist)
    assert len(truth.rss) == 2 * fxgen.N_ACCOUNTS * fxgen.RSS_POSITIONS
