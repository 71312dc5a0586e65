"""Benchmark of fxblue-analytics-spark, driven from one Python process
with one closed-loop client on a ``local[2]`` session.

    python3 perfbench/run.py --workload fx_ingest_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Untraced (``--trace 0``) the last line of
stdout is the end-to-end record; traced (``--trace 1``) it carries the
per-layer metrics, and the full span and per-op layer record is written
to ``.perfbench_work/results/``. The line before the last holds the
host-noise stamp, the op count and the wall-clock figures of the ops. The
exit code is 0 only if the run completed; ``correct`` says whether every
output matched its expected value.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
#: executor threads; the ops are bound by per-job overhead and ran as fast
#: on two as on four, with steadier timings and fewer Python workers
CPUS = 2


def _configure(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, pin the session size and silence the console progress bar."""
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(min(CPUS, os.cpu_count() or CPUS)),
            # the heap may grow to 1 GiB, far above what either workload
            # holds, and starts small, so peak RSS follows the live data
            "SPARK_DRIVER_MEMORY": "1g",
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(local),
            # -XX:-UsePerfData, for spark-submit's launcher JVM and the
            # driver's: each would otherwise write under /tmp/hsperfdata_*.
            # The driver JVM keeps its JIT compiler threads alive, so an
            # op's CPU time can leave theirs out (host.jit_cpu_s)
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                "--driver-java-options "
                f"'-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}' pyspark-shell"
            ),
        }
    )
    sys.path.insert(0, str(ROOT))


def _declared() -> dict[str, dict[str, str]]:
    """Metric name -> unit for the end-to-end and the per-layer list of
    BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}


DECLARED = _declared()


def _metrics(values: dict[str, float], kind: str) -> dict:
    """The record's metrics, with units; exactly the declared set."""
    units = DECLARED[kind]
    if set(values) != set(units):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def end_to_end(bench, peak_rss_kb: int) -> tuple[dict, dict]:
    """The end-to-end metrics, and the wall-clock figures of the same ops."""
    cpus = [o["cpu"] for o in bench.ops]
    walls = [o["wall"] for o in bench.ops]
    metrics = _metrics(
        {
            "setup_s": bench.setup_s,
            "op_cpu_s": statistics.median(cpus),
            "rows_per_cpu_s": statistics.median(o["input_rows"] / o["cpu"] for o in bench.ops),
            "peak_rss_mb": peak_rss_kb / 1024.0,
        },
        "end_to_end",
    )
    info = {
        "n_ops": len(walls),
        "wall": {
            "op_p50_s": statistics.median(walls),
            "op_max_s": max(walls),
            "rows_per_s": statistics.median(o["input_rows"] / o["wall"] for o in bench.ops),
        },
    }
    return metrics, info


def per_layer(bench) -> dict:
    from workloads import LAYER_KEYS

    traced = [o for o in bench.ops if o["traced"] and "layers" in o]
    plain = [o["cpu"] for o in bench.ops if not o["traced"]]
    # means, not medians: a median of millisecond-grained times can read
    # the same on every run
    out = {key: statistics.fmean([o["layers"][key] for o in traced]) if traced else 0 for key in LAYER_KEYS}
    out.update(
        {
            "session.get_spark_s": bench.get_spark_s,
            "entry.queries_s": bench.queries_s,
            "io.stage_s": bench.stage_s,
            "write_amp": bench.extra.get("write_amp", 0),
            "space_amp": bench.extra.get("space_amp", 0),
            "trace.overhead_pct": (
                100.0 * (statistics.median([o["cpu"] for o in traced]) / statistics.median(plain) - 1)
                if traced and plain
                else 0
            ),
        }
    )
    return _metrics(out, "per_layer")


def fx_steps(bench) -> dict:
    """Times of the fx-only steps: the read after each write over all ops,
    and the traced sub-steps' self times, as medians."""
    from workloads import STEP_METRICS

    raw = [o["read_after_write_s"] for o in bench.ops if "read_after_write_s" in o]
    traced = [o["layers"] for o in bench.ops if "layers" in o]
    out = {"read_after_write_p50_s": statistics.median(raw)} if raw else {}
    for key in STEP_METRICS.values():
        vals = [layers[key] for layers in traced if key in layers]
        if vals:
            out[key] = statistics.median(vals)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "fxblue_etl_spark").is_dir():
        print(f"error: {ROOT} is not a checkout of the engine (no __spark_entry__.py / fxblue_etl_spark/)", file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _configure(run_dir)
    import host
    import stats
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    noise0 = host.noise_stamp()
    bench = Bench(run_dir, args.seed, args.seconds, bool(args.trace))
    try:
        WORKLOADS[args.workload](bench)
        peak_py_kb, peak_jvm_kb = host.vm_hwm_kb(), host.vm_hwm_kb(bench.jvm_pid())
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    noise1 = host.noise_stamp()
    if not bench.ops:
        print("error: no op completed", file=sys.stderr)
        return 1

    attempted, failed = stats.count_failed(bench.ops)
    _, warm_failed = stats.count_failed(bench.warm)
    e2e, info = end_to_end(bench, peak_py_kb + peak_jvm_kb)
    metrics = per_layer(bench) if args.trace else e2e
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        **info,
        "warm_failed": warm_failed,
        "errors": [o["error"] for o in bench.ops + bench.warm if o["error"]][:5],
        "host": {
            "load1_start": noise0["load1"],
            "load1_end": noise1["load1"],
            "steal_pct": host.steal_pct(noise0, noise1),
        },
        "peak_rss_mb": {"python": peak_py_kb / 1024.0, "jvm": peak_jvm_kb / 1024.0},
        "warm_rounds": bench.extra.get("warm_rounds"),
        "fx_steps": fx_steps(bench),
    }
    if args.trace:
        detail["end_to_end"] = e2e
        detail["coverage_max_err"] = max(
            abs(o["layers"]["plans.build_s"] + o["layers"]["plans.action_s"] - o["wall"]) / o["wall"]
            for o in bench.ops if "layers" in o
        ) if any("layers" in o for o in bench.ops) else None
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    record = {**detail, "metrics": metrics, "ops": bench.ops, "warm": bench.warm, "spans": bench.tracer.spans}
    out_file = WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    out_file.write_text(json.dumps(record, default=str))
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0 and warm_failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
