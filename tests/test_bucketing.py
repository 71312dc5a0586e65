"""Bucketed-layout join: correctness is the oracle gate's job; these
tests certify the *plan* — the whole point of bucketing is the absent
shuffle."""

from __future__ import annotations

from fxblue_etl_spark.plans.bucketing import bucketed_colocated_join


def test_bucketed_join_has_no_join_side_exchange(spark, sf_dir):
    df = bucketed_colocated_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the only Exchange allowed is the final aggregation's; neither
    # join child may re-shuffle bucketed data
    assert plan.count("Exchange") == 1
    assert "Bucketed: true" in plan


def test_bucketed_join_reuses_catalog_tables(spark, sf_dir):
    # second invocation must not rewrite the layout (idempotent via
    # catalog lookup) and must produce an identical result
    a = {tuple(r) for r in bucketed_colocated_join(spark, sf_dir).collect()}
    b = {tuple(r) for r in bucketed_colocated_join(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_dynamic_backfill_touches_only_target_partition(spark, sf_dir):
    """The corrected drop must rewrite only the backfill day's
    directory: other partitions keep their original file mtimes."""
    import os

    from fxblue_etl_spark.io import sink_dir
    from fxblue_etl_spark.plans.sinks import (
        BACKFILL_DAY,
        dynamic_partition_backfill,
    )

    dynamic_partition_backfill(spark, sf_dir).collect()
    out = sink_dir(sf_dir, "dynamic_partition_backfill")
    days = [d for d in os.listdir(out) if d.startswith("day=")]
    assert f"day={BACKFILL_DAY}" in days
    assert len(days) > 1

    def newest(day_dir):
        files = [
            os.path.join(out, day_dir, f)
            for f in os.listdir(os.path.join(out, day_dir))
            if f.endswith(".parquet")
        ]
        return max(os.path.getmtime(f) for f in files)

    target_m = newest(f"day={BACKFILL_DAY}")
    others_m = max(newest(d) for d in days if d != f"day={BACKFILL_DAY}")
    # the backfilled partition was written strictly after the rest
    assert target_m > others_m
