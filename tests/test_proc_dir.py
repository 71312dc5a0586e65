"""Per-process scratch files live in ``io.proc_dir`` and go with the
process: the shipped package zip and the sink directories a query
rewrites on every call."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from fxblue_etl_spark.io import fixture_key, proc_dir, sink_dir

REPO = Path(__file__).resolve().parent.parent

#: ships the package through a stand-in session (no JVM needed:
#: ``_ship_package`` reads the application id and calls addPyFile)
_SHIP = """
import os, sys
import fxblue_etl_spark
from fxblue_etl_spark import io, session

assert io._PROC_DIR is None, "importing the package must make no directory"

class _Ctx:
    applicationId = "app-test"
    def addPyFile(self, path):
        self.path = path

class _Spark:
    sparkContext = _Ctx()

spark = _Spark()
session._ship_package(spark)
assert os.path.isfile(spark.sparkContext.path)
print(spark.sparkContext.path)
"""


def test_shipped_zip_is_removed_at_exit(tmp_path):
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", _SHIP],
        env=env,
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    zpath = out.stdout.strip().splitlines()[-1]
    assert zpath.startswith(str(tmp_path)) and zpath.endswith(".zip")
    assert not os.path.exists(zpath)
    assert os.listdir(tmp_path) == []


def test_proc_dir_is_per_process():
    d = proc_dir()
    assert os.path.basename(d) == f"fxblue_proc_{os.getpid()}"
    assert os.path.isdir(d) and proc_dir() == d


def test_sink_dirs_never_shared_by_same_named_fixtures(tmp_path):
    """Two fixtures with one basename get two sink directories, both
    under this process's directory."""
    a, b = tmp_path / "x" / "sf0.001", tmp_path / "y" / "sf0.001"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    q = "dynamic_partition_backfill"
    da, db = sink_dir(str(a), q), sink_dir(str(b), q)
    assert da != db
    assert da == os.path.join(proc_dir(), f"{q}_{fixture_key(str(a))}")
    assert os.path.dirname(db) == proc_dir()
