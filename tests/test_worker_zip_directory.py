"""``session._cache_zip_directories`` inside real Python workers.

Each check runs as a ``mapInPandas`` over one partition whose function
imports the package (which installs the stat-keyed
``zipimporter.invalidate_caches``) and returns what it saw as JSON."""

from __future__ import annotations

import json
import zipimport

import pytest

from fxblue_etl_spark.session import _cache_zip_directories

_LAZY = hasattr(zipimport.zipimporter, "_get_files")


def _on_worker(spark, probe):
    def task(batches):
        import json

        import pandas as pd

        import fxblue_etl_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"out": [json.dumps(probe())]})

    [row] = spark.range(1, numPartitions=1).mapInPandas(task, "out string").collect()
    return json.loads(row.out)


@pytest.mark.skipif(_LAZY, reason="a lazy zipimporter gets nothing installed")
def test_unchanged_archives_are_read_once(spark):
    def probe():
        import importlib
        import sys
        import zipimport

        reads = [0]
        read = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return read(archive)

        zipimport._read_directory = counting
        try:
            importers = [
                f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            ]
            importlib.invalidate_caches()
            first = reads[0]
            importlib.invalidate_caches()
            second = reads[0] - first
            # the stdlib method still reads, so the counter is live
            zipimport.zipimporter.invalidate_caches.__wrapped__(importers[0])
            stdlib = reads[0] - first - second
        finally:
            zipimport._read_directory = read
        return {"importers": len(importers), "second": second, "stdlib": stdlib}

    seen = _on_worker(spark, probe)
    assert seen["importers"] >= 1
    assert seen["stdlib"] == 1
    assert seen["second"] == 0


def test_rewritten_archive_is_reread(spark):
    def probe():
        import importlib
        import os
        import shutil
        import sys
        import tempfile
        import uuid
        import zipfile

        tag = uuid.uuid4().hex[:12]
        old, new = f"zipdir_old_{tag}", f"zipdir_new_{tag}"
        folder = tempfile.mkdtemp()
        path = os.path.join(folder, "mods.zip")
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr(f"{old}.py", "VALUE = 'old'\n")
        sys.path.insert(0, path)
        try:
            importlib.import_module(old)
            importlib.invalidate_caches()  # stamps the archive
            importlib.invalidate_caches()  # served from the cached directory
            inode = os.stat(path).st_ino
            with zipfile.ZipFile(path, "w") as zf:  # truncates in place
                zf.writestr(f"{old}.py", "VALUE = 'old'\n")
                zf.writestr(f"{new}.py", "VALUE = 'new'\n")
            importlib.invalidate_caches()
            try:
                value = importlib.import_module(new).VALUE
            except ImportError:
                value = None
            return {"same_inode": os.stat(path).st_ino == inode, "value": value}
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            shutil.rmtree(folder)

    seen = _on_worker(spark, probe)
    assert seen["same_inode"]
    assert seen["value"] == "new"


def test_lazy_zipimporter_gets_nothing(spark):
    def probe():
        from fxblue_etl_spark.session import _cache_zip_directories

        def invalidate_caches(self):
            pass

        class Lazy:
            def _get_files(self):
                return {}

        class Eager:
            pass

        Lazy.invalidate_caches = Eager.invalidate_caches = invalidate_caches
        return {
            "lazy": _cache_zip_directories(Lazy),
            "lazy_kept": Lazy.invalidate_caches is invalidate_caches,
            "eager": _cache_zip_directories(Eager),
            "eager_kept": Eager.invalidate_caches is invalidate_caches,
        }

    seen = _on_worker(spark, probe)
    assert seen == {"lazy": False, "lazy_kept": True, "eager": True, "eager_kept": False}


def test_driver_keeps_the_stdlib_method(spark):
    spark.range(1, numPartitions=1).mapInPandas(lambda it: it, "id long").collect()
    assert _cache_zip_directories() is False
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert not hasattr(method, "__wrapped__")
