"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
exposes one callable per implemented operator from SURVEY.md §2 (plus
the beyond-reference LLM-pipeline surface); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each (omitted only for operators whose
results are engine-specific by construction, e.g. approx sketches).

Every module is imported unconditionally: a broken import must fail
loudly here rather than silently shrink the query surface (a
swallowed ImportError would make coverage regressions invisible to
the driver's correctness gate).

The driver hash-checks a fixed-size head of ``queries()`` each round,
so the dict order is derived from the ``CORRECTNESS_r*.json`` ledgers
beside this file (a row counts only if ``hash_match`` is true): the
flagship, then every oracle-backed query never certified, then the
rest stalest first (last certified round ascending, ties in
registration order).

A driver's session enters the engine here, so ``entry`` and every
``queries()`` callable pass it through
:func:`fxblue_etl_spark.session.tune` first, pinning UTC and non-ANSI
casts on whatever session the driver hands in.  The operator and plan
modules never tune; a caller that uses them directly brings a session
built by ``get_spark`` or passed through ``tune``.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from fxblue_etl_spark.functions import udfs
from fxblue_etl_spark.operators import (
    cleaning,
    corpusops,
    dedup,
    graph,
    indexing,
    linkage,
    merge,
    ml,
    multimodal,
    quality,
    retrieval,
    similarity,
    skew,
    temporal,
    textops,
    tfidf,
    windows,
)
from fxblue_etl_spark.plans import (
    advanced,
    behavior,
    bucketing,
    corpus,
    dq,
    observability,
    profiling,
    relational,
    runtime_filters,
    sinks,
    stats,
    tpch_extra,
    tpch_more,
    zorder,
)
from fxblue_etl_spark.sources import (
    fwf,
    fxblue_csv,
    jsonl,
    pyds_sink,
    rss_datasource,
    rss_feed,
    xlsx_registry,
)
from fxblue_etl_spark.session import tune
from fxblue_etl_spark.streaming import pipelines


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return relational.flagship_account_pnl(tune(spark), "/root/testdata/sf0.001")


_MODULES = [
    fwf,
    relational,
    advanced,
    tpch_more,
    corpus,
    cleaning,
    merge,
    windows,
    dedup,
    similarity,
    textops,
    multimodal,
    skew,
    temporal,
    graph,
    fxblue_csv,
    rss_feed,
    rss_datasource,
    pipelines,
    udfs,
    tpch_extra,
    xlsx_registry,
    corpusops,
    ml,
    sinks,
    bucketing,
    quality,
    tfidf,
    jsonl,
    runtime_filters,
    zorder,
    dq,
    behavior,
    indexing,
    observability,
    stats,
    pyds_sink,
    profiling,
    retrieval,
    linkage,
]


_HERE = Path(__file__).resolve().parent
_FLAGSHIP = "flagship_account_pnl"


def certification_order(ledger_dir: Path = _HERE) -> list[str]:
    """Registered query keys in driver certification order (see the
    module docstring); the sort is stable, so ties keep registration
    order."""
    last: dict[str, int] = {}
    for path in ledger_dir.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for key, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True:
                last[key] = max(last.get(key, 0), rnd)
    oracles = oracle_sql()
    keys = [k for mod in _MODULES for k in mod.QUERIES if k != _FLAGSHIP]
    # False sorts first: oracle-backed keys with no certified row lead
    keys = sorted(
        dict.fromkeys(keys),
        key=lambda k: (k in last or k not in oracles, last.get(k, 0)),
    )
    return [_FLAGSHIP, *keys]


def _tuned(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """``fn`` under its own name, run on the session after ``tune``."""

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return {k: _tuned(merged[k]) for k in certification_order()}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    return out
