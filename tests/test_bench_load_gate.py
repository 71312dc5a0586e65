"""bench.py's load-aware start gate (round-5 verdict item 4): the
harness must wait for a quiet host, give up after the bounded budget
with an explicit waiver, and let the env knobs disable it — all
checked here with a scripted ``os.getloadavg`` so no real waiting or
load generation is involved."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402


def _scripted_loads(monkeypatch, values):
    it = iter(values)
    last = values[-1]
    monkeypatch.setattr(
        bench.os, "getloadavg", lambda: (next(it, last), 0.0, 0.0)
    )
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)


def test_quiet_host_passes_immediately(monkeypatch):
    _scripted_loads(monkeypatch, [0.5])
    load, waiver = bench._wait_for_quiet_host()
    assert load == 0.5 and waiver is None


def test_busy_host_waits_until_quiet(monkeypatch):
    _scripted_loads(monkeypatch, [9.0, 8.0, 1.2])
    load, waiver = bench._wait_for_quiet_host()
    assert load == 1.2 and waiver is None


def test_never_quiet_host_gets_waiver(monkeypatch):
    monkeypatch.setattr(bench, "LOAD_WAIT_MAX_S", 0.0)
    _scripted_loads(monkeypatch, [9.0])
    load, waiver = bench._wait_for_quiet_host()
    assert load == 9.0
    assert waiver is not None and waiver >= 0


def test_gate_disabled_by_env(monkeypatch):
    monkeypatch.setattr(bench, "MAX_START_LOAD", 0.0)  # <=0 disables
    _scripted_loads(monkeypatch, [99.0])
    load, waiver = bench._wait_for_quiet_host()
    assert load == 99.0 and waiver is None


def test_env_knobs_parse(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MAX_LOAD", "7.5")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT_MAX_S", "42")
    importlib.reload(bench)
    try:
        assert bench.MAX_START_LOAD == 7.5
        assert bench.LOAD_WAIT_MAX_S == 42.0
    finally:
        monkeypatch.delenv("SPARK_GRAFT_MAX_LOAD")
        monkeypatch.delenv("SPARK_GRAFT_LOAD_WAIT_MAX_S")
        importlib.reload(bench)


def _fake_full_record(n_extra: int = 0) -> dict:
    """A full bench record shaped like main() builds, over the real
    HEADLINE (plus n_extra synthetic future queries)."""
    names = list(bench.HEADLINE) + [
        f"future_round_addition_{i:02d}" for i in range(n_extra)
    ]
    timings = {n: 12.345 for n in names}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "frozen15_total": 123.456,
        "frozen27_total": 234.567,
        "load_avg_start": 1.23,
        "load_avg_end": 12.34,
        "query_loads": {n: 4.56 for n in names},
        "load_waiver_waited_s": None,
        "max_start_load": 2.0,
        "load_tainted": list(names[:13]),
        "taint_load": 8.0,
        "redraws": {n: {"first_sec": 1, "redraw_sec": 2} for n in names[:13]},
    }


def test_stdout_record_fits_driver_tail_capture():
    """Round-10 verdict item 1: the ONE stdout line must fit the
    driver's 2000-char tail even on a worst-case run (all heavy
    metadata populated) — the full record's detail stays file-only."""
    import json

    # measured with bench._dumps — the exact encoding main() prints
    line = bench._dumps(bench.compact_stdout_record(_fake_full_record()))
    assert len(line) <= bench.STDOUT_BUDGET
    out = json.loads(line)
    # driver contract fields
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in out
    # round-over-round comparables requested by the round-10 verdict
    assert "frozen15_total" in out and "frozen27_total" in out
    assert out["load_tainted_n"] == 13
    # heavy fields must NOT ride stdout
    for k in ("query_loads", "redraws", "prev_draws"):
        assert k not in out
    # full per-query coverage at today's HEADLINE size
    assert set(out["queries"]) == set(bench.HEADLINE)


def test_stdout_record_never_prints_measured_entry_as_zero():
    """Round-14 verdict What's-wrong #1: integer-precision degrade
    printed measured sub-second entries as 0 and the driver's
    comparator counted them dropped_from_bench (asof_purchase_view
    0.543s, ohlc_bars_hourly 0.554s).  At every degrade level a
    measured entry must emit >= 0.1."""
    rec = _fake_full_record()
    names = list(rec["queries"])
    for n in names[:13]:
        rec["queries"][n] = 0.543
    rec["queries"][names[13]] = 0.04  # pathological: sub-decisecond
    out = bench.compact_stdout_record(rec)
    assert len(bench._dumps(out)) <= bench.STDOUT_BUDGET
    assert out.get("queries_truncated") is None  # full coverage kept
    assert all(v >= 0.1 for v in out["queries"].values())
    # sub-second entries keep a decimal even at the integer level
    assert out["queries"][names[0]] == 0.5
    assert out["queries"][names[13]] == 0.1


def test_stdout_record_truncates_before_overflowing():
    """If future rounds grow HEADLINE past the budget, the guard cuts
    the per-query map to frozen27 (flagging it) instead of emitting
    an unparseable line."""
    import json

    rec = bench.compact_stdout_record(_fake_full_record(n_extra=40))
    line = bench._dumps(rec)
    assert len(line) <= bench.STDOUT_BUDGET
    assert rec.get("queries_truncated") is True
    assert set(rec["queries"]) == set(bench.HEADLINE[: bench.FROZEN27_N])


def test_redraw_pass_waits_per_query_not_once(monkeypatch):
    """Round-11 verdict item 3: a wave that lingers past the FIRST
    entry's wait must not void the whole pass — each entry gets its
    own wait against the shared budget, so entries reached after the
    wave recedes still get clean redraws."""
    # load trace: hot during q1's wait twice, then quiet forever
    _scripted_loads(monkeypatch, [9.0, 9.0, 1.0])
    timings = {"q1": 5.0, "q2": 7.0, "q3": 1.0}
    loads = {"q1": 9.5, "q2": 8.2, "q3": 1.0}
    measured = []

    def measure(name):
        measured.append(name)
        return 2.0, 1.5  # clean redraw

    redraws = bench._redraw_tainted_pass(
        ["q1", "q2", "q3"], timings, loads, measure
    )
    assert measured == ["q1", "q2"]
    assert timings["q1"] == 2.0 and loads["q1"] == 1.5
    assert timings["q2"] == 2.0 and loads["q2"] == 1.5
    assert timings["q3"] == 1.0  # never tainted, never touched
    assert redraws["q1"]["first_sec"] == 5.0
    assert redraws["q1"]["attempts"] == 1


def test_redraw_pass_retries_hot_redraw_once(monkeypatch):
    """An entry whose redraw itself ran hot gets exactly one more
    attempt; the tainted first number is replaced only by a clean
    draw, and the record keeps the ORIGINAL first_sec."""
    _scripted_loads(monkeypatch, [1.0])
    timings = {"q1": 5.0}
    loads = {"q1": 9.5}
    results = iter([(4.0, 8.5), (2.0, 1.2)])  # hot redraw, then clean

    def measure(name):
        return next(results)

    redraws = bench._redraw_tainted_pass(["q1"], timings, loads, measure)
    assert redraws["q1"]["attempts"] == 2
    assert redraws["q1"]["first_sec"] == 5.0  # original, not the hot redraw
    assert timings["q1"] == 2.0 and loads["q1"] == 1.2


def test_redraw_pass_budget_exhaustion_keeps_taint(monkeypatch):
    """When the host never goes quiet within the budget, the pass
    stops and the tainted numbers stay stamped tainted."""
    monkeypatch.setattr(bench, "REDRAW_WAIT_MAX_S", 0.0)
    _scripted_loads(monkeypatch, [9.0])
    timings = {"q1": 5.0}
    loads = {"q1": 9.5}
    redraws = bench._redraw_tainted_pass(
        ["q1"], timings, loads, lambda n: (0.0, 0.0)
    )
    assert redraws == {}
    assert timings["q1"] == 5.0 and loads["q1"] == 9.5


def test_redraw_pass_never_replaces_with_slower(monkeypatch):
    """Round 14: a quiet-stamped redraw that measures SLOWER than the
    first draw must not replace it — late redraws run under earlier
    redraws' decay and their end-of-measurement load stamp can read
    quiet while the median was contaminated.  Contention only ever
    inflates a deterministic computation, so the smaller draw wins;
    the record keeps both."""
    _scripted_loads(monkeypatch, [1.0])
    timings = {"q1": 2.0}
    loads = {"q1": 9.5}  # first draw stamped hot (self-load)

    redraws = bench._redraw_tainted_pass(
        ["q1"], timings, loads, lambda n: (7.7, 4.8)
    )
    # slower quiet redraw recorded but NOT adopted
    assert redraws["q1"]["redraw_sec"] == 7.7
    assert timings["q1"] == 2.0 and loads["q1"] == 9.5
    assert redraws["q1"]["attempts"] == 1


def test_redraw_pass_slower_quiet_redraw_not_retried(monkeypatch):
    """A quiet-but-slower redraw is a final verdict (the first number
    stands); only a HOT redraw earns another attempt."""
    _scripted_loads(monkeypatch, [1.0])
    timings = {"q1": 2.0}
    loads = {"q1": 9.5}
    calls = []

    def measure(name):
        calls.append(name)
        return 7.7, 4.8

    bench._redraw_tainted_pass(["q1"], timings, loads, measure)
    assert calls == ["q1"]
