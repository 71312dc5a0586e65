"""The driver hash-checks the first 50 ``queries()`` entries each round,
so the order ``__spark_entry__.certification_order`` derives from the
``CORRECTNESS_r*.json`` ledgers decides what gets certified next."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: the driver's per-round correctness window
WINDOW = 50


def _last_certified(ledger_dir: Path) -> dict[str, int]:
    last: dict[str, int] = {}
    for f in ledger_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(f.stem.removeprefix("CORRECTNESS_r"))
        for k, row in json.loads(f.read_text()).items():
            if row["hash_match"] is True:
                last[k] = max(last.get(k, 0), rnd)
    return last


def test_every_oracle_query_is_certified_or_queued():
    import __spark_entry__ as e

    qs, oracles = list(e.queries()), e.oracle_sql()
    last = _last_certified(REPO)
    never = {k for k in qs if k in oracles and k not in last}
    assert qs[0] == "flagship_account_pnl"
    assert never <= set(qs[:WINDOW]), sorted(never - set(qs[:WINDOW]))
    # the 13 never certified as of the round-15 ledger: each must be
    # certified by now or still inside the window
    for k in (
        "benford_digit_audit",
        "counting_bloom_delete_equivalence",
        "duplicated_span_rewrite",
        "holt_linear_forecast",
        "isotonic_weekly_fit",
        "kruskal_wallis_test",
        "markov_stationary_distribution",
        "max_drawdown_by_user",
        "nelson_aalen_hazard",
        "shapley_vocab_coverage",
        "streaming_drawdown_monitor",
        "vocab_divergence_report",
        "winsorized_stats",
    ):
        assert k in oracles and (k in last or k in qs[:WINDOW]), k


def test_order_derived_from_synthetic_ledgers(tmp_path, monkeypatch):
    import __spark_entry__ as e

    flagship = "flagship_account_pnl"
    registered = [
        k for k in dict.fromkeys(k for m in e._MODULES for k in m.QUERIES)
        if k != flagship
    ]
    a, b, c, d, rows_only = registered[:5]
    oracles = e.oracle_sql()
    del oracles[rows_only]
    monkeypatch.setattr(e, "oracle_sql", lambda: oracles)

    def ledger(rnd: int, rows: dict[str, bool]) -> None:
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({k: {"hash_match": ok} for k, ok in rows.items()})
        )

    # a: only a failed row; b: r1; c: r1 then r3; d: r2; rows_only: no
    # oracle, so it is no certification debt; approx_sketches is a
    # ledger key that is no longer registered
    ledger(1, {flagship: False, "approx_sketches": True,
               a: False, b: True, c: True})
    ledger(2, {d: True, a: False})
    ledger(3, {c: True})
    order = e.certification_order(tmp_path)

    assert order[0] == flagship
    assert sorted(order[1:]) == sorted(registered)
    assert "approx_sketches" not in order
    last = _last_certified(tmp_path)
    assert a not in last and order.index(a) < order.index(b)
    uncertified = [k for k in order[1:] if k not in last]
    n = len(uncertified)
    assert order[1 : 1 + n] == uncertified and uncertified[-1] == rows_only
    staleness = [last[k] for k in order[1 + n :]]
    assert staleness == sorted(staleness)
    assert order[-3:] == [b, d, c]

    # with no ledgers every oracle-backed query is uncertified and
    # keeps registration order
    empty = tmp_path / "empty"
    empty.mkdir()
    assert e.certification_order(empty) == [
        flagship, *(k for k in registered if k != rows_only), rows_only
    ]


def test_order_independent_of_cwd(tmp_path):
    import __spark_entry__ as e

    out = subprocess.run(
        [sys.executable, "-c",
         "import json, __spark_entry__ as e; print(json.dumps(list(e.queries())))"],
        cwd=tmp_path, env={"PYTHONPATH": str(REPO)},
        capture_output=True, text=True, check=True,
    )
    assert json.loads(out.stdout) == list(e.queries())


def test_rows_only_queries_are_the_documented_set():
    """Every registered query has an oracle, so a `no_oracle` driver
    row can never recur: engine-specific demos (JVM-seeded LSH, float
    fixpoints, approx sketches) are checked through hash-certified
    contracts instead (portable_countmin_topk, kmeans_iterate_exact,
    minhash_lsh_containment, brp_lsh_containment,
    dedup_pagerank_exact)."""
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    rows_only = sorted(k for k in qs if k not in oracles)
    assert rows_only == []
