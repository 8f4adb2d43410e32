"""Corpus-building benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload crawl_curate --seed 1 --seconds 10 --trace 0

Closed loop on ``local[4]``: one driver process, one job at a time. The
inputs are generated from ``--seed`` before Spark starts; the program
only ever sees the generated files. Every run's outputs are checked.

``--trace 0`` prints the end-to-end metrics (wall_s, input_mb_per_s,
setup_s, peak_rss_mb); ``--trace 1`` the per-layer metrics
of a layer-by-layer sweep plus the tracing overhead. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"};
the line before it carries sample counts, quartiles and input facts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
HZ = os.sysconf("SC_CLK_TCK")
#: unmeasured jobs between the cold job and the warm ones: the JIT is
#: still compiling in the job after the cold one
WARMUP = 1
#: warm jobs measured even when --seconds is already used up
MIN_WARM = 3
#: layer-by-layer sweeps in a traced run: the first is the cold one
SWEEPS = 3
#: empty span enter/exit cycles timed for the tracing overhead
SPAN_PROBES = 200


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let the workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"n": len(xs), "median": xs[0] if xs else None}
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"n": len(xs), "p25": q1, "median": statistics.median(xs), "p75": q3,
            "max": max(xs)}


class Bench:
    def __init__(self, workload, seed: int, seconds: float, work: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.inp = os.path.join(work, "input")
        self.truth: dict = {}
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        #: what the last output check counted (kept rows, recall, ...)
        self.checked: dict = {}

    def setup(self, tr) -> float:
        """get_spark() to the end of a first trivial job, in a fresh JVM."""
        from metadata_enhanced_pretrain_datapipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(cpus=CPUS)
        tr.sc = self.spark.sparkContext
        with tr.span("session", start=t0):
            self.spark.range(1000).count()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def teardown(self) -> None:
        from procs import stop_session

        if self.spark is not None:
            spark, self.spark = self.spark, None
            stop_session(spark)

    def _attempt(self, k: int, fn) -> tuple[float | None, object]:
        """Run ``fn(out)`` into a fresh output dir, time it, check the
        outputs, clean up. A raise or a failed check counts as failed."""
        out = os.path.join(self.work, "out", str(k))
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            info = fn(out)
            dt = time.perf_counter() - t0
            errors, self.checked = self.wl.check(out, self.truth)
        except Exception:  # a failed run is a result, not a crash
            traceback.print_exc()
            dt, info, errors = None, None, ["raised"]
        finally:
            self.spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
        if errors:
            self.failures.append(f"run {k}: {'; '.join(errors)}")
            print(f"run {k} failed: {errors}", file=sys.stderr)
            return None, info
        return dt, info

    def chain_run(self, k: int, tr) -> float | None:
        return self._attempt(k, lambda out: self.wl.chain(self.spark, tr, self.inp, out))[0]

    def measure(self) -> tuple[dict, dict]:
        from procs import RssSampler, cpu_ticks
        from spans import NoTrace

        tr = NoTrace()
        # one fresh-JVM set-up per run: a JVM launch takes ~10 s on a
        # 4-vCPU host, and more per run would not fit the time budget of
        # the runs a comparison of two commits needs
        setup_s = self.setup(tr)
        with RssSampler() as rss:
            cold = self.chain_run(0, tr)
            for k in range(WARMUP):
                self.chain_run(1 + k, tr)
            rss.take_peak()
            warm, peaks, ticks, t0 = [], [], [], time.perf_counter()
            while len(warm) < MIN_WARM or time.perf_counter() - t0 < self.seconds:
                before = cpu_ticks()
                warm.append(self.chain_run(1 + WARMUP + len(warm), tr))
                ticks.append([b - a for a, b in zip(before, cpu_ticks())])
                peaks.append(rss.take_peak() / 1e6)
        warm = [w for w in warm if w is not None]
        mb = self.truth["input_bytes"] / 1e6
        wall = statistics.median(warm) if warm else 0.0
        metrics = {
            "wall_s": (wall, "s"),
            "input_mb_per_s": (mb / wall if wall else 0.0, "MB/s"),
            "setup_s": (setup_s, "s"),
            # each warm job's peak, median over the jobs: one late heap
            # expansion does not decide the run's figure
            "peak_rss_mb": (statistics.median(peaks), "MB"),
        }
        # the cold job is one sample per run, mostly JIT and code
        # generation racing the job for the same 4 cores: its run-to-run
        # spread is too wide to bound, so it is reported here, and per
        # layer as <layer>.cold_s by a traced run
        details = {"wall_s": _quartiles(warm), "warm_s": [round(w, 4) for w in warm],
                   "cold_s": cold,
                   "peak_rss_mb": [round(p, 1) for p in peaks], "input_mb": mb,
                   "warm_cpu_s": [round(t[0] / HZ, 2) for t in ticks],
                   "warm_steal_share": round(sum(t[1] for t in ticks)
                                             / max(1, sum(t[2] for t in ticks)), 4)}
        return metrics, details

    def traced(self) -> tuple[dict, dict]:
        from spans import Tracer
        from workloads import LAYERS

        tr = Tracer()
        setup_s = self.setup(tr)
        sweeps, sweep_s = [], []
        for run in range(SWEEPS):
            tr.run = run
            dt, info = self._attempt(
                1000 + run, lambda out: self.wl.sweep(self.spark, tr, self.inp, out, self.truth))
            sweeps.append(info or {"rows": {}})
            sweep_s.append(dt)
            # a layer this workload bypasses gets an empty span: its times
            # are the tracer's own cost, and the prediction is no change
            for layer in LAYERS[1:]:
                if layer not in self.wl.layers:
                    with tr.span(layer):
                        pass
        # tracing overhead: what the tracer adds per span (an empty span
        # on the live SparkContext, job group set and reset included)
        # times the spans of one warm sweep; job-to-job noise is far
        # larger than this, so traced and untraced jobs cannot show it
        probe = Tracer()
        probe.sc = tr.sc
        t0 = time.perf_counter()
        for _ in range(SPAN_PROBES):
            with probe.span("trace.probe"):
                pass
        span_s = (time.perf_counter() - t0) / SPAN_PROBES
        spans_per_sweep = sum(s.run == SWEEPS - 1 for s in tr.spans)
        tr.dump(os.path.join(os.path.dirname(self.work), "traces",
                             f"{self.wl.name}-seed{self.seed}.json"))

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        warm_runs = range(1, SWEEPS)
        metrics, stage_times = {}, {}
        for layer in LAYERS:
            if layer == "session":
                times = [{"busy_s": setup_s, "self_s": setup_s}]
                stage = [tr.stage_metrics(layer, 0)]
                cold, rows = setup_s, 1000
            else:
                times = [tr.layer_times(r).get(layer, {"busy_s": 0.0, "self_s": 0.0})
                         for r in warm_runs]
                stage = [tr.stage_metrics(layer, r) for r in warm_runs]
                cold = tr.layer_times(0).get(layer, {"busy_s": 0.0})["busy_s"]
                rows = sweeps[-1]["rows"].get(layer, 0)
            metrics[f"{layer}.busy_s"] = (med([t["busy_s"] for t in times]), "s")
            metrics[f"{layer}.self_s"] = (med([t["self_s"] for t in times]), "s")
            metrics[f"{layer}.cold_s"] = (cold, "s")
            # executor and GC times come whole milliseconds from Spark and
            # are exactly 0 on a layer a workload bypasses, so they go in
            # the details line rather than among the metrics
            stage_times[layer] = {k: med([s[k] for s in stage]) for k in ("task_s", "gc_s")}
            metrics[f"{layer}.shuffle_write_mb"] = (
                med([s["shuffle_write_mb"] for s in stage]), "MB")
            metrics[f"{layer}.spill_mb"] = (med([s["spill_mb"] for s in stage]), "MB")
            metrics[f"{layer}.failed_tasks"] = (max(s["failed_tasks"] for s in stage), "count")
            metrics[f"{layer}.rows_out"] = (rows, "count")
        extra = sweeps[-1].get("extra", {})
        for name, unit in (("operators.dedup.minhash.candidate_pairs", "count"),
                           ("operators.dedup.minhash.useful_ratio", "ratio"),
                           ("operators.tokens.pad_ratio", "ratio")):
            metrics[name] = (extra.get(name, 0), unit)
        metrics["sources.writers.bytes_per_input_byte"] = (
            sweeps[-1].get("written_bytes", 0) / self.truth["input_bytes"], "ratio")
        metrics["trace.span_s"] = (span_s, "s")
        metrics["trace.spans"] = (spans_per_sweep, "count")
        metrics["trace.overhead_s"] = (span_s * spans_per_sweep, "s")
        # where a warm sweep's time goes: each layer's share of the sweep
        # (self time, so nested layers count once), and how busy it keeps
        # the executors (task time / (busy time x cores)); a low occupancy
        # means per-job fixed cost, not per-row work, dominates the layer
        last = tr.layer_times(SWEEPS - 1)
        wall = sweep_s[-1] or 0.0
        details = {
            "stage_times": stage_times, "sweep_s": sweep_s,
            "layer_share": {k: round(last[k]["self_s"] / wall, 3) for k in self.wl.layers
                            if k in last and wall},
            "executor_occupancy": {
                k: round(stage_times[k]["task_s"] / (last[k]["busy_s"] * CPUS), 3)
                for k in self.wl.layers if k in last and last[k]["busy_s"]},
        }
        return metrics, details


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as e:
        print(f"cannot import the package under test from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    _configure_env(work)
    bench = Bench(workloads.WORKLOADS[args.workload], args.seed, args.seconds, work)
    try:
        bench.truth = bench.wl.generate(args.seed, bench.inp)
        metrics, details = bench.traced() if args.trace else bench.measure()
    finally:
        bench.teardown()
        shutil.rmtree(work, ignore_errors=True)

    details.update(workload=args.workload, seed=args.seed,
                   failed_share=len(bench.failures) / bench.attempted,
                   failures=bench.failures[:5], checked=bench.checked,
                   input={k: v for k, v in bench.truth.items()
                          if isinstance(v, (int, float))})
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
