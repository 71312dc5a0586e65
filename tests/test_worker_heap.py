"""``session._freeze_worker_heap``: a Python worker that imports the
package moves its import heap into the permanent generation, so the
daemon's per-task ``gc.collect()`` skips it; the driver is left alone."""

from __future__ import annotations

import gc

from fxblue_etl_spark.session import _freeze_worker_heap


def test_worker_heap_is_frozen(spark):
    def task(batches):
        import gc

        import pandas as pd

        import fxblue_etl_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    [row] = (
        spark.range(1, numPartitions=1).mapInPandas(task, "frozen long").collect()
    )
    assert row.frozen > 0


def test_driver_heap_is_left_alone():
    before = gc.get_freeze_count()
    assert _freeze_worker_heap() is False
    assert gc.get_freeze_count() == before
