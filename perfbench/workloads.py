"""The benchmark's workloads, each a closed loop with one client.

``corpus_dedup`` runs the LLM-pipeline dedup queries over a fixed corpus
in a seeded order, each op as cold as a first call: every swap_cache
slot and module memo is released before it. ``fx_ingest_merge`` runs
the reference's own write path, batch by batch, on seeded FXBlue-shaped
inputs, with a read-after-write query after each batch.

One op is timed from the first call into the engine to its last result.
Result checks, cache release and status reads happen outside that time.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import corpus
import fxgen
import host
from stats import digest, frame_rows, self_times
from tracing import SparkProbe, Tracer

#: per-op layer values; counts and ratios that only some workloads
#: produce read 0 elsewhere
LAYER_KEYS = (
    "plans.build_s", "plans.build_jobs", "plans.action_s",
    "spark.catalyst.analysis_s", "spark.catalyst.optimization_s", "spark.catalyst.planning_s",
    "spark.scheduler.jobs", "spark.scheduler.stages", "spark.scheduler.tasks",
    "spark.scheduler.driver_gap_s",
    "spark.executor.run_s", "spark.executor.cpu_s", "jvm.gc_s",
    "spark.executor.noncpu_s", "spark.executor.task_skew",
    "io.input_bytes", "io.input_rows", "io.rows_scanned_per_row_returned",
    "spark.shuffle.read_bytes", "spark.shuffle.write_bytes", "spark.shuffle.spill_bytes",
    "io.cache_slots", "io.cached_bytes", "io.output_bytes",
    "sources.files_skipped", "operators.cleaning.dedup_keep_ratio", "operators.merge.update_ratio",
)


class Bench:
    """One Spark session and the state of one benchmark run."""

    def __init__(self, run_dir: Path, seed: int, seconds: int, trace: bool):
        self.run_dir, self.seed, self.seconds, self.trace = run_dir, seed, seconds, trace
        t = time.time()
        from fxblue_etl_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.get_spark_s = time.time() - t
        t = time.time()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.queries_s = time.time() - t
        self.tracer = Tracer(self.spark.sparkContext)
        self.probe = SparkProbe(self.spark)
        self.ops: list[dict] = []  # timed ops
        self.warm: list[dict] = []  # the warm pass, checked but not timed
        self.stage_s = 0.0
        self.warm_s = 0.0
        self.extra: dict = {}  # workload-level metrics
        self._jvm = self.jvm_pid()

    @property
    def setup_s(self) -> float:
        return self.get_spark_s + self.queries_s + self.stage_s + self.warm_s

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Python driver, the JVM and the
        Python workers, less the JVM's JIT compiler threads: compilation is
        a warm-up cost a long-lived session pays once, and how much of it
        lands in which op varies from run to run."""
        return host.tree_cpu_s() - host.jit_cpu_s(self._jvm)

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    # ── per-op plumbing ─────────────────────────────────────────────────

    def release(self, layers: dict | None) -> None:
        """Release the op's cached state; the traced run records what
        was held (``io.cached_bytes``) and how many slots were drained."""
        from fxblue_etl_spark.io import drain_all
        from fxblue_etl_spark.operators.dedup import clear_band_memo
        from fxblue_etl_spark.operators.graph import clear_spine_memo

        if layers is not None:
            layers["io.cached_bytes"] = self.probe.cached_bytes()
        slots = drain_all(self.spark)
        clear_band_memo()
        clear_spine_memo()
        if layers is not None:
            layers["io.cache_slots"] = slots

    def layers(self, op: str, t0: float, t1: float, gc_s: float, df) -> dict:
        """Per-layer record of a traced op, from its spans and Spark's
        status store; ``gc_s`` is the JVM's GC time during the op."""
        self.probe.settle()
        spans = self.tracer.op_spans(op)
        st = self_times(spans)
        out = dict.fromkeys(LAYER_KEYS, 0)
        out.update(
            self.probe.op_metrics(
                [s["group"] for s in spans],
                [s["group"] for s in spans if s["kind"] == "build"],
                t0,
                t1,
            )
        )
        out["jvm.gc_s"] = gc_s
        out["plans.build_s"] = sum(st[s["id"]] for s in spans if s["kind"] == "build")
        out["plans.action_s"] = sum(st[s["id"]] for s in spans if s["kind"] == "action")
        for s in spans:
            if s["name"] in STEP_METRICS:
                out[STEP_METRICS[s["name"]]] = st[s["id"]]
        if df is not None:
            out.update(self.probe.catalyst(df))
        return out


#: traced fx sub-steps whose self time goes into the per-op record and the
#: detail line; a time that exists on one workload only would read a
#: constant 0 on the other, so they are not declared per-layer metrics
STEP_METRICS = {
    "sources.fxblue_csv.parse": "sources.fxblue_csv.parse_s",
    "operators.cleaning.normalize": "operators.cleaning.normalize_s",
    "operators.merge.write": "operators.merge.merge_s",
}


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def _warm_up(bench: Bench, run_round, rounds: int) -> None:
    """Run a fixed number of warm-up rounds (``run_round(k)`` returns the
    round's time), so every run times its ops after the same warm-up."""
    t = time.time()
    walls = [run_round(k) for k in range(rounds)]
    bench.warm_s = time.time() - t
    bench.extra["warm_rounds"] = [round(w, 3) for w in walls]


# ── corpus_dedup ─────────────────────────────────────────────────────────

def _query_op(bench: Bench, op: str, name: str, sf_dir: str, expected: str, traced: bool) -> dict:
    T = bench.tracer
    T.enabled = traced
    out = {"op": op, "query": name, "traced": traced, "input_rows": corpus.N_DOCS,
           "expected": expected, "digest": None, "error": None}
    df = None
    gc0 = bench.probe.gc_ms() if traced else 0
    c0, t0 = bench.cpu_s(), time.time()
    try:
        with T.span("op", op):
            with T.span("plans.build", op, "build"):
                df = bench.queries[name](bench.spark, sf_dir)
            with T.span("plans.action", op, "action"):
                pdf = df.toPandas()
        t1, c1 = time.time(), bench.cpu_s()
        out["digest"] = digest(list(pdf.columns), frame_rows(pdf))
        rows_out = len(pdf)
    except Exception as e:  # an op that raises is counted, not fatal
        t1, c1 = time.time(), bench.cpu_s()
        out["error"] = f"{type(e).__name__}: {e}"[:400]
        rows_out = 0
    T.enabled = False
    out["wall"] = t1 - t0
    out["cpu"] = c1 - c0
    layers = None
    if traced:
        layers = bench.layers(op, t0, t1, (bench.probe.gc_ms() - gc0) / 1e3, df)
        layers["io.rows_scanned_per_row_returned"] = layers["io.input_rows"] / max(1, rows_out)
        out["layers"] = layers
    bench.release(layers)
    return out


#: A run times a fixed number of passes, seconds / CORPUS_PASS_S, after
#: CORPUS_WARM_PASSES untimed ones, so every run of one length times the
#: same ops. A pass (two ops) took 1.6-2.5 s on the 4-core development
#: host while it was quiet and up to 5 s under hypervisor steal; the
#: counts keep a run inside the run budget.
CORPUS_PASS_S = 2.0
CORPUS_WARM_PASSES = 3


def corpus_dedup(bench: Bench) -> None:
    expected = corpus.load_expected()
    t = time.time()
    sf_dir = str(bench.run_dir / "corpus")
    corpus_digest = corpus.write_corpus(sf_dir)
    bench.stage_s = time.time() - t
    if corpus_digest != expected["corpus_digest"]:
        raise RuntimeError("generated corpus differs from the one the expected digests were computed on")
    bench.release(None)

    def warm_pass(p: int) -> float:
        ops = [_query_op(bench, f"warm{p}-{q}", q, sf_dir, expected["results"][q]["digest"], False)
               for q in corpus.QUERIES]
        bench.warm.extend(ops)
        return sum(o["wall"] for o in ops)

    _warm_up(bench, warm_pass, CORPUS_WARM_PASSES)

    rng = random.Random(bench.seed)
    # whole passes only, so every run holds each query equally often
    for p in range(max(2, round(bench.seconds / CORPUS_PASS_S))):
        traced = bench.trace and p % 2 == 1
        for q in rng.sample(corpus.QUERIES, len(corpus.QUERIES)):
            op = f"p{p}-{q}"
            bench.ops.append(_query_op(bench, op, q, sf_dir, expected["results"][q]["digest"], traced))


# ── fx_ingest_merge ──────────────────────────────────────────────────────

#: A run times a fixed number of batches, seconds / FX_BATCH_S, after
#: FX_WARM_BATCHES untimed small ones, so every run of one length times
#: the same tables. A batch took 2.1-3.6 s on the 4-core development host
#: while it was quiet and up to 5.5 s under hypervisor steal; the counts
#: keep a run inside the run budget.
FX_BATCH_S = 3.3
FX_WARM_BATCHES = 2

REGISTRY_SCHEMA = (
    "account_id string, account_url string, rss_url string, "
    "trade_win string, total_return string, trades_per_day string"
)
LEDGER_COLS = ["account_id", "n_trades", "pnl_cents"]


@dataclass
class _Tables:
    hist: str
    rss: str | None


def _ledger(spark, path: str):
    """The read-after-write query: per-account trade count and PnL in
    cents over the merged ``historical_trades``."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .groupBy("account_id")
        .agg(
            F.count("*").alias("n_trades"),
            F.sum(F.round(F.col("pnl") * 100).cast("long")).alias("pnl_cents"),
        )
    )


def _fx_op(bench: Bench, op: str, batch: fxgen.Batch, registry: str, prev: _Tables, nxt: _Tables, traced: bool) -> dict:
    from fxblue_etl_spark.operators import cleaning, merge
    from fxblue_etl_spark.sources import fxblue_csv, rss_feed

    spark, T = bench.spark, bench.tracer
    T.enabled = traced
    out = {"op": op, "traced": traced, "input_rows": batch.rows, "digest": None, "error": None}
    counts = {}
    held = []  # frames the traced run persisted to time sub-steps apart
    ledger_df = None
    csv_glob = os.path.join(batch.dir, "*.csv")
    gc0 = bench.probe.gc_ms() if traced else 0
    c0, t0 = bench.cpu_s(), time.time()
    try:
        with T.span("op", op):
            if traced:
                # each sub-step materialized under its own job group
                with T.span("sources.fxblue_csv.read_fxblue_csv", op, "build"):
                    raw = fxblue_csv.read_fxblue_csv(spark, csv_glob)
                with T.span("sources.fxblue_csv.parse", op, "action"):
                    raw = raw.persist()
                    held.append(raw)
                    counts["raw"] = raw.count()
                with T.span("sources.fxblue_csv.normalize_trades", op, "build"):
                    new = fxblue_csv.normalize_trades(raw)
                with T.span("operators.cleaning.normalize", op, "action"):
                    new = new.persist()
                    held.append(new)
                    counts["new"] = new.count()
            else:
                new = fxblue_csv.ingest_fxblue_dir(spark, csv_glob)
            with T.span("operators.merge.merge_upsert", op, "build"):
                merged = merge.merge_upsert(
                    spark.read.parquet(prev.hist), new, ["ticket"],
                    preserve_cols=list(cleaning.GPT_PLACEHOLDER_COLS),
                )
            with T.span("operators.merge.write", op, "action"):
                merged.write.parquet(nxt.hist)
            with T.span("sources.rss_feed.rss_trades", op, "build"):
                accounts = spark.read.csv(registry, header=True, schema=REGISTRY_SCHEMA)
                rnew = rss_feed.rss_trades(spark.read.parquet(batch.entries), accounts)
                rold = spark.read.parquet(prev.rss) if prev.rss else spark.createDataFrame([], rnew.schema)
                rmerged = merge.merge_upsert(rold, rnew, ["ticket"])
            with T.span("operators.merge.write_rss", op, "action"):
                rmerged.write.parquet(nxt.rss)
            r0 = time.time()
            with T.span("plans.read_after_write", op, "build"):
                ledger_df = _ledger(spark, nxt.hist)
            with T.span("plans.read_after_write.collect", op, "action"):
                pdf = ledger_df.toPandas()
            raw_s = time.time() - r0
        t1, c1 = time.time(), bench.cpu_s()
        out["digest"] = digest(LEDGER_COLS, frame_rows(pdf[LEDGER_COLS]))
        out["read_after_write_s"] = raw_s
    except Exception as e:  # an op that raises is counted, not fatal
        t1, c1 = time.time(), bench.cpu_s()
        out["error"] = f"{type(e).__name__}: {e}"[:400]
    T.enabled = False
    out["wall"] = t1 - t0
    out["cpu"] = c1 - c0
    out["output_bytes"] = _dir_bytes(nxt.hist) if os.path.isdir(nxt.hist) else 0
    layers = None
    if traced:
        layers = bench.layers(op, t0, t1, (bench.probe.gc_ms() - gc0) / 1e3, ledger_df)
        if out["error"] is None:
            # counts only the layer record needs run here, outside the op's
            # job groups, so their jobs stay out of its scheduler totals
            matched = new.join(spark.read.parquet(prev.hist).select("ticket"), "ticket", "left_semi").count()
            files_parsed = raw.select("account_id").distinct().count()
            layers["sources.files_skipped"] = batch.files - files_parsed
            layers["operators.cleaning.dedup_keep_ratio"] = counts["new"] / counts["raw"]
            layers["operators.merge.update_ratio"] = matched / counts["new"]
            layers["io.rows_scanned_per_row_returned"] = layers["io.input_rows"] / max(1, len(pdf))
        layers["io.output_bytes"] = out["output_bytes"]
        out["layers"] = layers
        for df in held:
            df.unpersist(blocking=True)
    bench.release(layers)
    return out


def fx_ingest_merge(bench: Bench) -> None:
    n_batches = max(3, round(bench.seconds / FX_BATCH_S))
    t = time.time()
    inputs = fxgen.generate(bench.seed, str(bench.run_dir / "fx_in"), n_batches)
    bench.stage_s = time.time() - t
    tables = bench.run_dir / "tables"
    base = _Tables(inputs.base, None)

    truth = fxgen.Truth(inputs)
    truth.apply(inputs.warm)
    expected = digest(LEDGER_COLS, [(k, *v) for k, v in truth.ledger().items()])

    def warm_op(k: int) -> float:
        # the small warm batch again and again, each time into fresh tables
        warm = _fx_op(bench, f"warm{k}", inputs.warm, inputs.registry, base,
                      _Tables(str(tables / f"warm_hist{k}"), str(tables / f"warm_rss{k}")), False)
        warm["expected"] = expected
        bench.warm.append(warm)
        return warm["wall"]

    _warm_up(bench, warm_op, FX_WARM_BATCHES)

    prev = base
    for i, batch in enumerate(inputs.batches):
        nxt = _Tables(str(tables / f"hist_{i}"), str(tables / f"rss_{i}"))
        traced = bench.trace and i % 2 == 1
        res = _fx_op(bench, f"b{i}", batch, inputs.registry, prev, nxt, traced)
        bench.ops.append(res)
        if res["error"] is not None:
            break
        if prev is not base:
            shutil.rmtree(prev.hist)
            shutil.rmtree(prev.rss)
        prev = nxt
    _check_fx(bench, inputs, prev)


def _check_fx(bench: Bench, inputs: fxgen.FxInputs, final: _Tables) -> None:
    """Compare every op's ledger, and the final tables, to the ground
    truth computed from the generated files."""
    import pyarrow.parquet as pq

    truth = fxgen.Truth(inputs)
    for batch, res in zip(inputs.batches, bench.ops):
        truth.apply(batch)
        res["expected"] = digest(LEDGER_COLS, [(k, *v) for k, v in truth.ledger().items()])
        layers = res.get("layers")
        if layers and res["error"] is None and layers["sources.files_skipped"] != batch.gated:
            res["error"] = f"files_skipped {layers['sources.files_skipped']} != generated {batch.gated}"
    if any(r["error"] is not None for r in bench.ops):
        return  # the run stopped at the failed op; its tables are partial
    hist = pq.read_table(final.hist)
    rss = pq.read_table(final.rss)
    got_hist = digest(hist.column_names, [tuple(r.values()) for r in hist.to_pylist()])
    got_rss = digest(rss.column_names, [tuple(r.values()) for r in rss.to_pylist()])
    want_hist = digest([f.name for f in fxgen.HIST_SCHEMA], truth.hist_rows())
    want_rss = digest(fxgen.RSS_COLS, truth.rss_rows())
    if (got_hist, got_rss) != (want_hist, want_rss):
        bench.ops[-1]["error"] = (
            f"final tables differ from the ground truth: historical_trades {got_hist == want_hist}, "
            f"rss_trades {got_rss == want_rss}"
        )
    n_ops = len(bench.ops)
    bench.extra["write_amp"] = sum(r["output_bytes"] for r in bench.ops) / sum(
        b.csv_bytes for b in inputs.batches[:n_ops])
    bench.extra["space_amp"] = _dir_bytes(final.hist) / truth.live_bytes()


WORKLOADS = {"corpus_dedup": corpus_dedup, "fx_ingest_merge": fx_ingest_merge}
