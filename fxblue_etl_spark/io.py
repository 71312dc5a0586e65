"""Fixture/table loaders.

The driver provides a TPC-H-ish star schema plus ``events`` /
``documents`` / ``embeddings`` as one parquet file per table
(TESTDATA.md). Loading is a plain columnar parquet scan — Catalyst
gets predicate pushdown / column pruning for free, and at cluster
scale the same call fans out one task per row-group/split.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
import weakref

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: The confs that change what parquet schema inference returns; their
#: values are part of a memoized schema's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: SparkSession → {(fixture_key, table, *schema conf values) →
#: inferred StructType}.  A Python StructType holds no JVM handle, so
#: a dropped session frees its entry; :func:`drain_all` leaves it be.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple, StructType]]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. `name` must be in TABLES.

    The scan runs on ``spark`` as given: the session is expected to be
    tuned already (built by ``session.get_spark`` or passed through
    ``session.tune``, as ``__spark_entry__`` does for the driver's).

    The first scan of a table in a session infers its parquet schema
    (one Spark job); the schema is memoized per session under
    ``fixture_key(sf_dir)``, the table name and the values of
    :data:`_SCHEMA_CONFS`, and later scans pass it to the reader, so
    they start no job.  A fixture rewritten in place changes its key
    and is inferred afresh.

    ``events.ts`` has shipped in two physical parquet forms across
    driver rounds — TIMESTAMP(NANOS) (surfacing as epoch-nanos long
    under ``spark.sql.legacy.parquet.nanosAsLong``) and untagged
    TIMESTAMP(MICROS) (surfacing as TIMESTAMP_NTZ). Both normalize
    here to session-TZ ``TimestampType`` at microsecond precision:
    with the session pinned to UTC the NTZ→LTZ cast
    preserves the wall clock, which is exactly how the DuckDB oracle
    reads the same file (naive TIMESTAMP). Every downstream operator
    sees one ts type regardless of fixture vintage.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (fixture_key(sf_dir), name, *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
    with _SWAP_LOCK:
        memo = _SCHEMAS.setdefault(spark, {})
        schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        schema = memo[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    if name == "events":
        from pyspark.sql import functions as F

        t = dtypes.get("ts")
        if t == "bigint":
            # integer div — float division would lose precision at 1e18 nanos
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif t == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif name in ("orders", "lineitem"):
        # The same TIMESTAMP(NANOS) vintage rescue for the other two
        # timestamp columns, should the driver ever regenerate these
        # tables the way events.parquet once shipped.  bigint branch
        # ONLY: the current micros-NTZ vintage passes through
        # untouched, so every standing certified row keeps its exact
        # input type.
        from pyspark.sql import functions as F

        for c in ("o_orderdate", "l_shipdate"):
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def fan_out(
    df: DataFrame, min_parts: int | None = None, part_bytes: int = 0
) -> DataFrame:
    """Spread per-row-heavy (interpreted HOF / Pandas-UDF) work.

    A small table scans as one split, which serializes CPU-bound
    per-row expressions no matter how many cores the cluster has.
    Repartition up to cluster parallelism when the scan is narrower;
    at real scale the scan already yields enough splits and this is a
    no-op (no shuffle inserted).

    ``part_bytes > 0`` also caps the target at ``ceil(sizeInBytes /
    part_bytes)``, Catalyst's size estimate of the optimized plan (a
    driver-side statistic, no job): input worth less than one part per
    core then runs in fewer tasks, and input under one part runs in
    its scan stage with no repartition at all.

    The width probe uses ``inputFiles()`` (a driver-side metadata
    lookup), never ``df.rdd`` — RDD conversion re-plans the whole
    physical tree on every call. File count under-estimates splits
    for one huge file, but a scan that big is already past the
    repartition threshold at cluster scale; non-scan plans (no input
    files) keep their upstream shuffle partitioning untouched.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files and len(files) < target and part_bytes > 0:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        target = min(target, -(-int(stats.sizeInBytes()) // part_bytes))
    if files and len(files) < target:
        return df.repartition(target)
    return df


def fixture_key(sf_dir: str) -> str:
    """The one key of every fixture-derived artifact: a short digest
    of ``realpath(sf_dir)`` and each :data:`TABLES` file's
    ``(st_mtime_ns, st_size)`` (a missing file counts as ``(0, 0)``).
    Two fixtures with the same basename, or one regenerated in place,
    never share a key, so neither a staged file (:func:`stage_fixture`)
    nor a memo (:func:`checkpoint`) can serve another fixture's data."""
    h = hashlib.md5(os.path.realpath(sf_dir).encode())
    for name in TABLES:
        try:
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = (0, 0)
        h.update(repr(stamp).encode())
    return h.hexdigest()[:12]


#: The one registry of pinned state: SparkSession → {slot name →
#: (key, [(kind, handle), ...])}.  Every frame the engine keeps past
#: one statement is pinned here by one of two verbs — :func:`swap_cache`
#: (``persist``) or :func:`checkpoint` (``localCheckpoint``) — and
#: lives until its slot's next pin or :func:`drain_all`, whichever
#: comes first.  ``kind`` records how a handle was pinned, so the one
#: :func:`_release` frees both.
#:
#: The handles are py4j ``_jdf`` handles, NOT DataFrames: a DataFrame
#: holds a strong reference back to its session, which would pin the
#: weak key forever and the documented weak-key cleanup could never
#: fire.  A ``JavaObject`` references only the gateway, so a dropped
#: session genuinely releases its Python-side bookkeeping (the JVM
#: blocks die with the session's SharedState).
_SWAP_SLOTS: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]]" = (
    weakref.WeakKeyDictionary()
)
_SWAP_LOCK = threading.Lock()
_PERSISTED, _CHECKPOINTED = "persisted", "checkpointed"


def _release(handles: list) -> None:
    """Unpin ``(kind, handle)`` pairs; no-fail.  A persisted handle
    unpersists; a checkpoint's blocks belong to the ``LogicalRDD``
    its plan reads, so that RDD is unpersisted — superseded
    checkpoint blocks otherwise sit in executor storage until JVM GC
    and the ContextCleaner reclaim them."""
    for kind, h in handles:
        try:
            if kind == _PERSISTED:
                h.unpersist(False)
            else:
                plan = h.queryExecution().analyzed()
                if plan.getClass().getSimpleName() == "LogicalRDD":
                    plan.rdd().unpersist(False)
        except Exception:
            pass  # cleanup must never fail the query


def _pin(sess, slot: str, key, kind: str, dfs) -> list:
    """Store ``dfs`` under ``slot`` (caller holds the lock); return
    the handles the slot held before."""
    slots = _SWAP_SLOTS.setdefault(sess, {})
    old = slots.pop(slot, (None, []))[1]
    # the JVM handle when the frame has one (classic mode); the frame
    # itself otherwise (fakes / Connect)
    slots[slot] = (key, [(kind, getattr(df, "_jdf", df)) for df in dfs])
    return old


def swap_cache(
    slot: str, *dfs: DataFrame
) -> DataFrame | tuple[DataFrame, ...] | None:
    """Persist ``dfs`` for reuse within ONE query invocation,
    releasing whatever the previous invocation of the same query left
    under ``slot`` *in the same SparkSession* — a shared bench/driver
    session must never accumulate more than one invocation's worth of
    cached blocks per query.

    Slots are keyed by (session, name) in the registry, so two
    sessions running the same query concurrently cannot release each
    other's blocks, and a harness can drop every live slot between
    query sections with :func:`drain_all`.  The session is taken from
    ``dfs[0]``; a bare ``swap_cache(name)`` call drains that slot in
    every session.

    Release FIRST, persist SECOND: CacheManager dedups by logical
    plan, so persisting the new (identical) plan before dropping the
    old entry would no-op, and the old entry's unpersist would then
    evict the cache the new invocation is counting on.

    Use at the natural materialization points of a multi-consumer
    plan (an index build's assignment table, a pair graph's edge
    list): Spark shares NO lineage between a DataFrame's consumers,
    so k consumers of an un-persisted frame re-execute its whole
    subtree k times — the scan-count sweep found an 18× corpus-scan
    plan built exactly that way.

    Same-session concurrency note: two threads invoking the SAME
    query on the SAME session still share a slot — the whole
    release-persist-insert sequence runs under one lock (releases
    and ``persist()`` registration are cheap, no-fail driver-side
    calls), so the slot always holds exactly the last writer's
    frames and the earlier writer's blocks are released before the
    swap, never leaked.  The earlier writer's in-flight action on a
    persisted frame still completes correctly (Spark recomputes
    unpersisted blocks from lineage); only its cache benefit is lost.
    A checkpoint-backed frame has no lineage to fall back on: it is
    valid until its slot's next pin or :func:`drain_all`.

    A bare ``swap_cache(name)`` (no frames) drains that slot and
    returns ``None`` — callers use the drain arm for teardown only.
    """
    if not dfs:
        with _SWAP_LOCK:
            drained = [
                slots.pop(slot)[1] for slots in _SWAP_SLOTS.values() if slot in slots
            ]
        for handles in drained:
            _release(handles)
        return None
    sess = dfs[0].sparkSession
    with _SWAP_LOCK:
        _release(_SWAP_SLOTS.setdefault(sess, {}).pop(slot, (None, []))[1])
        out = [df.persist() for df in dfs]
        _pin(sess, slot, None, _PERSISTED, out)
    return out[0] if len(out) == 1 else tuple(out)


def checkpoint(spark: SparkSession, slot: str, build, key=None) -> DataFrame:
    """``build().localCheckpoint()`` pinned under ``slot`` in
    ``spark``'s registry, releasing what the slot held before.

    With a non-``None`` ``key`` the slot is a memo: when it already
    holds a frame built under an equal key, that frame is returned
    and ``build`` never runs — a fixture artifact passes
    ``fixture_key(sf_dir)``, so a regenerated fixture or another
    ``sf_dir`` rebuilds.  ``key=None`` always
    builds (a fold's per-batch state).

    Build FIRST, release SECOND — the reverse of :func:`swap_cache`:
    a fold's new state is computed from the old state's blocks, and a
    checkpoint has no lineage to recompute them from once released.
    The eager checkpoint job runs outside the registry lock.  The
    returned frame is valid until the slot's next pin or
    :func:`drain_all`."""
    with _SWAP_LOCK:
        held = _SWAP_SLOTS.get(spark, {}).get(slot)
    if key is not None and held is not None and held[0] == key:
        h = held[1][0][1]
        return DataFrame(h, spark) if isinstance(h, JavaObject) else h
    out = build().localCheckpoint()
    with _SWAP_LOCK:
        old = _pin(spark, slot, key, _CHECKPOINTED, [out])
    _release(old)
    return out


def drain_all(spark: SparkSession | None = None) -> int:
    """Release every live slot — persisted and checkpointed alike —
    of ``spark``, or of all sessions.  For a driver/bench harness to
    call between query sections so a full-surface run never holds
    more than the current query's blocks.  Returns the number of
    slots drained."""
    with _SWAP_LOCK:
        sessions = (
            [spark]
            if spark is not None
            else list(_SWAP_SLOTS.keys())
        )
        drained: list[list] = []
        for sess in sessions:
            slots = _SWAP_SLOTS.get(sess)
            if slots:
                drained.extend(handles for _, handles in slots.values())
                slots.clear()
    for handles in drained:
        _release(handles)
    return len(drained)


def stage_once(path: str, build) -> str:
    """Idempotent, crash-safe, concurrency-safe fixture staging
    (round-11 advice item 3): the former per-site pattern wrote the
    payload INTO ``path`` and dropped a ``_fxblue_done`` marker
    after — a crash between write and marker was handled (re-stage),
    but a concurrent second session could read a half-overwritten
    directory because mode("overwrite") deletes files before the
    other process re-checks the marker.

    Here ``build(tmp_dir)`` writes the complete payload into a fresh
    sibling temp dir, the marker lands inside it, and one atomic
    ``os.rename`` publishes the whole thing — readers can only ever
    observe a missing dir or a complete one.  Losing a publish race
    is fine: the winner's dir is complete by construction, so the
    loser discards its own temp dir and returns the published path.
    """
    import uuid

    done = os.path.join(path, "_fxblue_done")
    if os.path.exists(done):
        return path
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        with open(os.path.join(tmp, "_fxblue_done"), "w") as f:
            f.write("ok")
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.exists(done):
                # stale partial dir from a pre-helper crash: replace
                # it, tolerating one more concurrent winner
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.rename(tmp, path)
                except OSError:
                    if not os.path.exists(done):
                        raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def stage_fixture(sf_dir: str, name: str, build) -> str:
    """The one place fixture-derived files live: ``build(tmp_dir)``
    writes artifact ``name`` of fixture ``sf_dir`` once, through
    :func:`stage_once`, under a directory named by
    :func:`fixture_key`; every later call returns the published
    path without building.  ``tmp_dir`` does not exist yet — a
    Spark writer creates it, a Python writer makes it first."""
    root = os.path.join(tempfile.gettempdir(), f"fxblue_stage_{fixture_key(sf_dir)}")
    return stage_once(os.path.join(root, name), build)


#: ``(pid, path)`` of this process's scratch directory, made on first
#: use by :func:`proc_dir`.
_PROC_DIR: tuple[int, str] | None = None


def _remove_proc_dir(pid: int, path: str) -> None:
    if os.getpid() == pid:  # a forked child inherits the hook, not the dir
        shutil.rmtree(path, ignore_errors=True)


def proc_dir() -> str:
    """This process's scratch directory, ``<tmp>/fxblue_proc_<pid>``:
    files one process writes and no other process may touch (the
    shipped package zip, the sink directories a query rewrites on
    every call).  Made on first use, emptied of what a dead process
    with the same pid left, and removed by one ``atexit`` hook, so a
    process that never calls this (a Python worker) leaves nothing."""
    global _PROC_DIR
    with _SWAP_LOCK:
        if _PROC_DIR is None or _PROC_DIR[0] != os.getpid():
            path = os.path.join(tempfile.gettempdir(), f"fxblue_proc_{os.getpid()}")
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            atexit.register(_remove_proc_dir, os.getpid(), path)
            _PROC_DIR = (os.getpid(), path)
        return _PROC_DIR[1]


def sink_dir(sf_dir: str, query: str) -> str:
    """The output directory ``query`` rewrites on every call over
    fixture ``sf_dir``: ``<proc_dir>/<query>_<fixture_key>``, so two
    processes, or two fixtures with one basename, never delete each
    other's output.  The caller empties it."""
    return os.path.join(proc_dir(), f"{query}_{fixture_key(sf_dir)}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
) -> None:
    """Write a table hive-partitioned by low-cardinality columns so
    predicates on them prune whole directories at scan time (the
    layout for `historical_trades`-style fact tables: partition by
    ingest date / account bucket, never by a high-cardinality key).
    """
    df.write.partitionBy(*partition_by).mode(mode).parquet(path)
