"""Tracing from outside the engine: spans around calls into its layers,
and Spark's own status APIs read per op.

Every span of a traced op runs under its own Spark job group
``<op id>:<span name>``, so jobs, stages and tasks can be attributed to
the call that launched them. Nothing here changes what the engine runs;
the status reads happen after an op has ended.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from stats import union_length

_OUTSIDE = "perfbench:outside"


class Tracer:
    """Spans kept in memory: name, kind (``build``/``action``/None),
    start, end, parent and op id. Disabled, ``span`` costs nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, kind: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "kind": kind,
            "parent": self._stack[-1] if self._stack else None,
            "group": f"{op}:{name}",
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                parent = self.spans[self._stack[-1]]["group"] if self._stack else _OUTSIDE
                self.sc.setJobGroup(parent, parent)

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


class SparkProbe:
    """Per-op readings from ``statusTracker``/``statusStore``, Catalyst's
    phase tracker and the block manager's storage info."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the op's finished jobs."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, groups) -> dict[str, list[int]]:
        tracker = self.sc.statusTracker()
        return {g: sorted(tracker.getJobIdsForGroup(g)) for g in groups}

    def op_metrics(self, groups, build_groups, start: float, end: float) -> dict:
        """Scheduler, executor, IO and shuffle totals over the jobs of
        ``groups``; ``plans.build_jobs`` counts those of ``build_groups``;
        ``driver_gap_s`` is the op's wall time not covered by any job."""
        tracker = self.sc.statusTracker()
        by_group = self.job_ids(groups)
        jobs = sorted({j for ids in by_group.values() for j in ids})
        intervals, stage_ids = [], set()
        for j in jobs:
            jd = self.store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (max(start, sub.get().getTime() / 1000.0), min(end, done.get().getTime() / 1000.0))
                )
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        m = dict.fromkeys(
            ("stages", "tasks", "run_ms", "cpu_ns", "in_bytes", "in_rows",
             "sh_read", "sh_write", "spill"), 0)
        longest = None
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += sd.numCompleteTasks()
            m["run_ms"] += sd.executorRunTime()
            m["cpu_ns"] += sd.executorCpuTime()
            m["in_bytes"] += sd.inputBytes()
            m["in_rows"] += sd.inputRecords()
            m["sh_read"] += sd.shuffleReadBytes()
            m["sh_write"] += sd.shuffleWriteBytes()
            m["spill"] += sd.diskBytesSpilled()
            if longest is None or sd.executorRunTime() > longest[1]:
                longest = ((sid, sd.attemptId()), sd.executorRunTime())
        run_s, cpu_s = m["run_ms"] / 1e3, m["cpu_ns"] / 1e9
        return {
            "plans.build_jobs": sum(len(by_group[g]) for g in build_groups),
            "spark.scheduler.jobs": len(jobs),
            "spark.scheduler.stages": m["stages"],
            "spark.scheduler.tasks": m["tasks"],
            "spark.scheduler.driver_gap_s": max(0.0, (end - start) - union_length(intervals)),
            "spark.executor.run_s": run_s,
            "spark.executor.cpu_s": cpu_s,
            "spark.executor.noncpu_s": max(0.0, run_s - cpu_s),
            "spark.executor.task_skew": self._skew(*longest[0]) if longest else 1.0,
            "io.input_bytes": m["in_bytes"],
            "io.input_rows": m["in_rows"],
            "spark.shuffle.read_bytes": m["sh_read"],
            "spark.shuffle.write_bytes": m["sh_write"],
            "spark.shuffle.spill_bytes": m["spill"],
        }

    def _skew(self, stage_id: int, attempt: int) -> float:
        tasks = self.store.taskList(stage_id, attempt, 100000)
        durs = sorted(
            tasks.apply(i).duration().get()
            for i in range(tasks.size())
            if tasks.apply(i).duration().isDefined()
        )
        med = statistics.median(durs) if durs else 0
        return durs[-1] / med if med > 0 else 1.0

    @staticmethod
    def catalyst(df) -> dict:
        """Analysis, optimization and planning time of ``df``'s query."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            out[f"spark.catalyst.{name}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        return out

    def gc_ms(self) -> int:
        """Collection time of every JVM garbage collector so far, in ms.
        In local mode driver and executors share this JVM, so its delta
        over an op is all GC the op caused, not only that inside tasks."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def cached_bytes(self) -> int:
        """Bytes held by cached RDD blocks, memory plus disk."""
        return sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())
