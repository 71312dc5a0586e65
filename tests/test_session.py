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
