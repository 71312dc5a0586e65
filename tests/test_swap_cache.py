"""io.swap_cache contract: persist for ONE invocation, release the
previous invocation's blocks, never accumulate in a shared session.

Slots live in a central registry keyed by (SparkSession, slot name):
two sessions running the same query concurrently must not release
each other's blocks, and drain_all() lets a driver/bench harness drop
every live slot between query sections.

Twenty-odd query sites persist their multi-consumer intermediates
through this helper; a regression here is a storage leak in every
long-lived driver/bench session."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.io import drain_all, swap_cache


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_swap_cache_releases_previous_invocation(spark):
    a = swap_cache("t.slot_a", spark.range(10).withColumn("x", F.col("id") * 2))
    a.count()
    assert a.storageLevel.useMemory
    # second invocation: a's blocks must be released, b's live
    b = swap_cache("t.slot_a", spark.range(20).withColumn("x", F.col("id") * 3))
    b.count()
    assert not a.storageLevel.useMemory  # unpersisted
    assert b.storageLevel.useMemory
    swap_cache("t.slot_a")  # bare call just drains the slot
    assert not b.storageLevel.useMemory


def test_swap_cache_multi_frame_and_derived_reuse(spark):
    base = spark.range(100).withColumn("k", F.col("id") % 7)
    derived = base.groupBy("k").agg(F.count("*").alias("n"))
    base, derived = swap_cache("t.slot_m", base, derived)
    # derived's plan contains base's logical subtree: cache
    # substitution must feed it from the persisted base
    plan = derived._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert [r.n for r in derived.orderBy("k").collect()] == [15, 15] + [14] * 5
    swap_cache("t.slot_m")
    assert not base.storageLevel.useMemory
    assert not derived.storageLevel.useMemory


def test_repeated_invocations_do_not_accumulate_blocks(spark):
    """The real leak check: calling a swap_cache-backed query many
    times in one session must not grow persistent-RDD count."""
    from fxblue_etl_spark.operators.corpusops import (
        capped_waterfill_allocation,
    )

    sf = "/root/testdata/sf0.001"
    capped_waterfill_allocation(spark, sf).collect()
    after_first = _n_persistent_rdds(spark)
    for _ in range(3):
        capped_waterfill_allocation(spark, sf).collect()
    assert _n_persistent_rdds(spark) <= after_first


def test_no_cross_sf_cache_leak(spark):
    """The driver calls entry() at sf0.001 and the gate at sf0.01 in
    one session: a swap_cache slot holding the previous sf's frame
    must never substitute into the other sf's plan (logical-plan
    matching is path-sensitive, and a new invocation releases the old
    slot).  Verified by comparing against the opposite call order."""
    from fxblue_etl_spark.operators.corpusops import (
        capped_waterfill_allocation,
    )
    from fxblue_etl_spark.operators.ml import knn_graph_build

    a, b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    for fn in (capped_waterfill_allocation, knn_graph_build):
        first = sorted(map(tuple, fn(spark, a).collect()))
        after_other = sorted(map(tuple, fn(spark, b).collect()))
        again = sorted(map(tuple, fn(spark, a).collect()))
        assert first == again, fn.__name__
        assert first != after_other, fn.__name__  # different fixtures differ


def test_two_sessions_do_not_cross_release(spark):
    """Registry is keyed per session: session B re-filling the same
    slot name must leave session A's frame persisted.  (Frames use
    distinct plans — Spark's CacheManager is shared across sessions
    of one context and dedups by logical plan, so identical plans
    would genuinely share one cache entry; that sharing is Spark
    semantics, not a registry leak.)"""
    other = spark.newSession()
    fa = swap_cache("t.slot_x", spark.range(11).withColumn("x", F.col("id") + 1))
    fa.count()
    fb = swap_cache("t.slot_x", other.range(13).withColumn("x", F.col("id") + 2))
    fb.count()
    assert fa.storageLevel.useMemory, "session B's swap released session A's frame"
    assert fb.storageLevel.useMemory
    # A's next invocation releases only A's previous frame
    fa2 = swap_cache("t.slot_x", spark.range(17).withColumn("x", F.col("id") + 3))
    fa2.count()
    assert not fa.storageLevel.useMemory
    assert fb.storageLevel.useMemory, "session A's swap released session B's frame"
    swap_cache("t.slot_x")  # bare drain hits every session
    assert not fa2.storageLevel.useMemory
    assert not fb.storageLevel.useMemory


def test_drain_all_scopes_to_session(spark):
    other = spark.newSession()
    fa = swap_cache("t.slot_d1", spark.range(7).withColumn("x", F.col("id")))
    fb = swap_cache("t.slot_d2", other.range(9).withColumn("x", F.col("id")))
    fa.count(), fb.count()
    assert drain_all(spark) >= 1
    assert not fa.storageLevel.useMemory
    assert fb.storageLevel.useMemory  # other session untouched
    assert drain_all() >= 1  # no arg: every session
    assert not fb.storageLevel.useMemory


def test_drain_all_releases_every_pin(spark):
    """Everything the engine pins — swap_cache persists, the fixture
    memos (dedup spine, corpus band index), the graph/ML superstep
    loops' carried frames and the streaming folds' state — lives in
    the one registry, so drain_all alone, with no GC, leaves no block
    pinned by these queries."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()
    start = spark.sparkContext.emptyRDD().id()
    qs = e.queries()
    for name in (
        "split_decontaminate",
        "streaming_lsh_dedup",
        "streaming_kmv_distinct",
        "streaming_cms_maintenance",
        "simhash_hamming_neardup",
        "kcore_decomposition",
        "kcenter_coreset",
        "greedy_max_cover_selection",
        "kmeans_iterate_exact",
        "recursive_dup_reachability",
        "streaming_csv_merge",
        "streaming_cdc_scd2",
        "streaming_ahash_dedup_incremental",
    ):
        qs[name](spark, sf).collect()
    drain_all(spark)
    it = jsc.getPersistentRDDs().iterator()
    live = []
    while it.hasNext():
        live.append(it.next()._1())
    assert [i for i in live if i > start] == []


def test_local_checkpoint_only_in_io():
    """io.checkpoint is the one pin path for checkpoints: no other
    package module may call localCheckpoint directly."""
    import re
    from pathlib import Path

    import fxblue_etl_spark

    pkg = Path(fxblue_etl_spark.__file__).parent
    callers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"\.localCheckpoint\(", p.read_text())
    )
    assert callers == ["io.py"]
