"""Local-session defaults in ``session.get_spark``."""

from __future__ import annotations

import os

from fxblue_etl_spark.session import _default_driver_memory

GIB = 2**30


def test_default_driver_memory_is_a_clamped_quarter_of_memory():
    assert _default_driver_memory(16 * GIB) == "4096m"
    assert _default_driver_memory(6 * GIB) == "2048m"  # floor
    assert _default_driver_memory(1 * GIB) == "2048m"
    assert _default_driver_memory(256 * GIB) == "16384m"  # ceiling
    assert _default_driver_memory(10 * GIB + 4 * 2**20) == "2561m"


def test_default_driver_memory_reads_physical_memory():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert _default_driver_memory() == _default_driver_memory(phys)


def test_environment_wins_over_the_default(spark):
    want = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want


def test_tune_only_at_the_engine_boundary():
    """A session is tuned where it enters the engine: ``get_spark``
    (session.py) and the driver contract (``__spark_entry__.py``).  No
    operator or plan module may tune again."""
    import re
    from pathlib import Path

    import fxblue_etl_spark

    pkg = Path(fxblue_etl_spark.__file__).parent
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"\btune\(", p.read_text())
    )
    assert callers == ["session.py"]
    assert re.search(r"\btune\(", (pkg.parent / "__spark_entry__.py").read_text())


def _untuned(spark):
    """A fresh session over the same context whose confs contradict
    every semantic the engine pins."""
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    other.conf.set("spark.sql.ansi.enabled", "true")
    return other


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_driver_contract_tunes_an_untuned_session(spark, sf_dir):
    """``queries()`` callables and ``entry`` pin the engine's confs on
    whatever session the driver hands in, and return the rows a
    ``get_spark`` session returns.  The conf read-back is the sharp
    half: the operators' ``try_*`` casts make most queries' rows
    agree even on an untuned session."""
    import __spark_entry__ as e
    from fxblue_etl_spark.io import drain_all
    from fxblue_etl_spark.session import _RUNTIME_CONFS

    qs = e.queries()
    names = ("flagship_account_pnl", "w1_locf_snapshots")
    want = {n: _rows(qs[n](spark, sf_dir)) for n in names}

    other = _untuned(spark)
    try:
        for n in names:
            assert _rows(qs[n](other, sf_dir)) == want[n], n
        assert {k: other.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    finally:
        drain_all(other)

    other = _untuned(spark)
    try:
        assert _rows(e.entry(other)) == want["flagship_account_pnl"]
        assert {k: other.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    finally:
        drain_all(other)

