"""Fixture staging: every fixture-derived file is staged once under
``io.fixture_key``, which covers the fixture's real path and its
tables' stats, and ``io.code_key``, the package's source digest, so no
staged file is served to another fixture, to a fixture regenerated in
place or to changed code; and the streaming queries that read the
staged files leave no memory-sink view or checkpoint directory behind.
"""

from __future__ import annotations

import glob
import os
import tempfile

import duckdb
import pytest

from fxblue_etl_spark.io import fixture_key, stage_fixture
from fxblue_etl_spark.sources.fxblue_csv import materialize_fixture_csvs


@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    """Point the process's temp dir (and so every staging directory)
    at the test's own tmp_path."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def _write_orders(src_dir: str, sf_dir: str, limit: int | None = None) -> int:
    """Copy the first ``limit`` orders (all by default) of fixture
    ``src_dir`` into fixture ``sf_dir``; return the row count."""
    os.makedirs(sf_dir, exist_ok=True)
    src = os.path.join(src_dir, "orders.parquet")
    dst = os.path.join(sf_dir, "orders.parquet")
    lim = f"ORDER BY o_orderkey LIMIT {limit}" if limit is not None else ""
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{src}') {lim}) TO '{dst}' (FORMAT PARQUET)"
    )
    (n,) = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()
    con.close()
    return n


def _csv_rows(out_dir: str) -> int:
    """Trade rows over the staged account exports (each file opens
    with a title and a header line)."""
    n = 0
    for f in glob.glob(os.path.join(out_dir, "acct_[0-9].csv")):
        with open(f) as fh:
            n += sum(1 for _ in fh) - 2
    return n


def test_same_basename_fixtures_stage_their_own_csvs(sf_dir, tmp_path, private_tmp):
    full = str(tmp_path / "a" / "sf0.001")
    half = str(tmp_path / "b" / "sf0.001")
    n_full = _write_orders(sf_dir, full)
    n_half = _write_orders(sf_dir, half, limit=n_full // 2)
    assert n_half < n_full

    out_full = materialize_fixture_csvs(full)
    out_half = materialize_fixture_csvs(half)
    assert out_full != out_half
    assert _csv_rows(out_full) == n_full
    assert _csv_rows(out_half) == n_half


def test_rewritten_fixture_moves_key_and_stage(sf_dir, tmp_path, private_tmp):
    d = str(tmp_path / "fx")
    n_a = _write_orders(sf_dir, d, limit=100)
    key_a, out_a = fixture_key(d), materialize_fixture_csvs(d)
    assert _csv_rows(out_a) == n_a

    # rewrite in place; move the mtime even on coarse-mtime filesystems
    n_b = _write_orders(sf_dir, d, limit=60)
    f = os.path.join(d, "orders.parquet")
    st = os.stat(f)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 1))

    key_b, out_b = fixture_key(d), materialize_fixture_csvs(d)
    assert key_b != key_a and key_b in out_b and key_a in out_a
    assert out_b != out_a
    assert _csv_rows(out_b) == n_b
    # the old artifact is left as it was, never rewritten
    assert _csv_rows(out_a) == n_a


def test_stage_fixture_builds_once_per_key(sf_dir, tmp_path, private_tmp):
    d = str(tmp_path / "fx")
    _write_orders(sf_dir, d, limit=10)
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    p1 = stage_fixture(d, "probe", build)
    p2 = stage_fixture(d, "probe", build)
    assert p1 == p2 and len(calls) == 1
    assert p1.startswith(str(private_tmp))
    assert os.path.exists(os.path.join(p1, "_fxblue_done"))


def test_stage_fixture_rebuilds_when_the_code_changes(
    sf_dir, tmp_path, private_tmp, monkeypatch
):
    """The staging root carries the package's source digest: a changed
    builder stages afresh instead of serving an older builder's files,
    and an unchanged package keeps serving what it staged."""
    from fxblue_etl_spark import io

    d = str(tmp_path / "fx")
    _write_orders(sf_dir, d, limit=10)
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp)

    monkeypatch.setattr(io, "code_key", lambda: "code_a")
    p_a = stage_fixture(d, "probe", build)
    assert stage_fixture(d, "probe", build) == p_a and len(calls) == 1
    monkeypatch.setattr(io, "code_key", lambda: "code_b")
    p_b = stage_fixture(d, "probe", build)
    assert p_b != p_a and len(calls) == 2
    assert "code_a" in p_a and "code_b" in p_b
    assert os.path.exists(os.path.join(p_a, "_fxblue_done"))


def test_split_stream_ignores_stage_marker(spark, sf_dir, private_tmp):
    """The staged split directory holds the staging marker next to the
    splits; the file stream must read only the splits, one per
    micro-batch."""
    from fxblue_etl_spark.io import table
    from fxblue_etl_spark.streaming.pipelines import (
        _file_stream,
        _stage_table_splits,
        run_to_table,
    )

    d = _stage_table_splits(sf_dir, "events", "event_id", 3)
    assert os.path.exists(os.path.join(d, "_fxblue_done"))
    stream = _file_stream(spark, d, 1)
    prog: list = []
    out = run_to_table(stream, "append", progress_out=prog)
    assert out.count() == table(spark, sf_dir, "events").count()
    assert sum(1 for p in prog if p["numInputRows"] > 0) == 3


def _mem_views(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]


def test_streaming_query_leaves_no_memory_view(spark, sf_dir):
    from pyspark.sql import functions as F

    from fxblue_etl_spark.streaming.pipelines import streaming_tumbling_windows

    a = streaming_tumbling_windows(spark, sf_dir)
    b = streaming_tumbling_windows(spark, sf_dir)
    assert _mem_views(spark) == []
    rows = a.collect()
    assert rows and sorted(rows) == sorted(b.collect())
    assert a.groupBy().agg(F.sum("n")).first()[0] == sum(r["n"] for r in rows)


def test_streaming_checkpoints_are_removed(spark, sf_dir, private_tmp, monkeypatch):
    """Each of the three queries that name a checkpoint directory
    makes it under the temp dir and removes it when the query ends."""
    from fxblue_etl_spark.sources.pyds_sink import pyds_stream_sink_roundtrip
    from fxblue_etl_spark.streaming.pipelines import (
        streaming_hll_maintenance,
        streaming_observed_metrics,
    )

    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*a, **k):
        made.append(mkdtemp(*a, **k))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    assert streaming_hll_maintenance(spark, sf_dir).collect()  # _fold_stream
    assert streaming_observed_metrics(spark, sf_dir).collect()
    assert pyds_stream_sink_roundtrip(spark, sf_dir).collect()
    assert len(made) == 3
    assert all(p.startswith(str(private_tmp)) for p in made)
    left = [n for n in os.listdir(private_tmp) if not n.startswith("fxblue_stage_")]
    assert left == []
