"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_imaged --seed 7 --seconds 16 --trace 0
    python3 perfbench/run.py --smoke

One run generates its inputs from ``--seed`` into a scratch directory
under ``.perfbench_tmp/``, sets up a Spark session three times (the
first launches the JVM; each set-up ends with one warm-up pass over a
warm-up input as large as the timed one), then repeats fully
materialized passes for ``--seconds`` and checks the last pass's
output.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
The line before it carries run details: seed, input sizes, load
average, every set-up and pass time and the output checks.

``--trace 1`` sets up once, alternates untraced and traced passes on
one session with a local Spark event log enabled, runs isolated passes
for the layers one pass cannot separate, and writes the spans to
``.perfbench_out/``.  ``--smoke`` runs every workload at minimum size
with tracing on and exits non-zero on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# one BLAS/OMP thread in the driver and, through the JVM's environment,
# in every Python worker; set before numpy is first imported
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

from pyspark import SparkContext  # noqa: E402

from perfbench.tracing import (Tracer, read_task_ends, read_worker_spans,  # noqa: E402
                               task_metrics, tree_peak_rss_mb, wall_attribution)
from perfbench.workloads import WORKLOADS  # noqa: E402
from vision_parse_spark.session import get_spark  # noqa: E402

# rows per workload: each pass takes a few seconds on 4 cores
SIZES = {"extract_imaged": 1500, "curate_docs": 6000}
SMOKE_SIZES = {"extract_imaged": 64, "curate_docs": 300}
SETUPS = 3          # session set-ups per untraced run; setup_s is their median
MIN_PASSES = 3      # timed passes per run at the least
LAYER_REPEATS = 2   # repeats of each isolated layer pass in a traced run


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=16)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload at minimum size, traced; non-zero exit on failure")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke is given")
    return args


def configure_process(tmp: str) -> None:
    """Temporary files of the driver, the JVM and its Python workers go
    inside the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")


def start_session(tmp: str, cores: int, event_dir: str | None):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "local"),
        # a fixed, pre-touched 2 GiB heap: with a growable heap the
        # collector's sizing swings the JVM's peak memory by an eighth
        # to a fifth between runs.  The C1 compiler only: C2 spends 15
        # core-seconds compiling in the first curate pass and still 3
        # per pass after ten, so on 4 cores pass times drift down by a
        # third over a run and a run's median depends on how far the
        # drift got; C1 settles within the set-up's warm-up passes.
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pass_loop(seconds: float, min_passes: int, one_pass) -> None:
    spent, n = 0.0, 0
    while n < min_passes or spent < seconds:
        spent += one_pass(n)
        n += 1


def _timed_passes(wl, spark, seconds: float, min_passes: int) -> list[float]:
    times: list[float] = []

    def one(i):
        times.append(wl.run_pass(spark, f"p{i}"))
        return times[-1]

    _pass_loop(seconds, min_passes, one)
    return times


def _traced_passes(wl, spark, seconds: float, min_passes: int, tracer,
                   span_dir: str) -> tuple[list[float], list[dict]]:
    """Pairs of one untraced and one traced pass; the order alternates
    so that warming favours neither side."""
    untraced, roots = [], []

    def traced(i):
        tracer.pass_id = f"t{i}"
        roots.append(wl.traced_pass(spark, f"t{i}", tracer, span_dir))
        return roots[-1]["end"] - roots[-1]["start"]

    def pair(i):
        t = traced(i) if i % 2 else 0.0
        untraced.append(wl.run_pass(spark, f"u{i}"))
        t += 0.0 if i % 2 else traced(i)
        return t + untraced[-1]

    _pass_loop(seconds, min_passes, pair)
    return untraced, roots


def _trace_summary(wl, tracer, roots, untraced, layers, check_times, event_dir,
                   span_dir, cores, details) -> dict:
    """Per-layer values of a traced run: span metrics of each traced
    pass, Spark task metrics over each traced pass's window, and the
    split of each traced pass's wall time over the layers."""
    tasks = read_task_ends(event_dir)
    spans = tracer.spans + read_worker_spans(span_dir)
    per_pass, attribution, task_stats = [], [], []
    for root in roots:
        mine = [s for s in spans if s["pass"] == root["pass"]]
        per_pass.append(wl.layer_metrics(mine))
        attribution.append(wall_attribution(mine, root))
        task_stats.append(task_metrics(tasks, root["start"], root["end"], cores))
    traced = [r["end"] - r["start"] for r in roots]
    names = sorted({k for a in attribution for k in a})
    details["untraced_pass_s"] = untraced
    details["traced_pass_s"] = traced
    details["attribution_s"] = {
        k: statistics.median(a.get(k, 0.0) for a in attribution) for k in names}
    values = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    values.update(layers)
    values.update(wl.run_metrics(values, check_times))
    for k in ("core_busy_frac", "shuffle_write_bytes", "spill_bytes", "task_skew"):
        values[f"spark.{k}"] = statistics.median(t[k] for t in task_stats)
    values["trace.pass_s"] = statistics.median(traced)
    values["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    values["trace.unattributed_s"] = details["attribution_s"].get("pass", 0.0)
    details["layer_values"] = values
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{wl.name}-s{wl.seed}.json"), "w") as f:
        json.dump({"spans": spans, "tasks": tasks, "details": details}, f)
    return values


def run(name: str, seed: int, seconds: float, trace: bool, rows: int,
        setups: int, min_passes: int, layer_repeats: int) -> tuple[dict, dict]:
    """One benchmark run; returns ``(result, details)``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{name}-s{seed}-{os.getpid()}")
    details: dict = {"workload": name, "seed": seed, "cores": cores,
                     "trace": int(trace), "loadavg_start": os.getloadavg()}
    spark = None
    try:
        configure_process(tmp)
        wl = WORKLOADS[name](os.path.join(tmp, "w"), seed, rows, cores)
        details["input"] = wl.sizes()
        event_dir = os.path.join(tmp, "events") if trace else None

        setup_times = []
        for k in range(setups):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session(tmp, cores, event_dir)
            wl.run_pass(spark, f"warm{k}", warm=True)
            setup_times.append(time.perf_counter() - t0)
        details["setup_s"] = setup_times

        tracer, check_times = Tracer(), {}
        if trace:
            span_dir = os.path.join(tmp, "spans")
            os.makedirs(span_dir)
            passes, roots = _traced_passes(wl, spark, seconds, min_passes, tracer, span_dir)
            tracer.pass_id = "layers"
            layers = wl.isolated_layers(spark, tracer, layer_repeats)
        else:
            passes = _timed_passes(wl, spark, seconds, min_passes)
            details["pass_s"] = passes
            peak_rss = tree_peak_rss_mb()

        ok, errors, details["checks"] = wl.check(spark, tracer, check_times)
        attempted, failed = rows * len(passes), errors * len(passes)
        details["output_ok"] = ok
        details["failed_row_frac"] = failed / attempted

        if trace:
            stop_jvm(spark)  # closes the event log
            spark = None
            values = _trace_summary(wl, tracer, roots, passes, layers, check_times,
                                    event_dir, span_dir, cores, details)
            metrics = per_layer_metrics(values)
        else:
            med = statistics.median(passes)
            metrics = {
                "setup_s": (statistics.median(setup_times), "s"),
                "pass_s": (med, "s"),
                "rows_per_s": (rows / med, "rows/s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
    finally:
        stop_jvm(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    details["loadavg_end"] = os.getloadavg()
    result = {"correct": bool(ok), "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, details


def per_layer_metrics(values: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, zero where the
    workload does not exercise the layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in declared}


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.smoke:
        failures = []
        for name, rows in SMOKE_SIZES.items():
            result, details = run(name, args.seed, seconds=0, trace=True, rows=rows,
                                  setups=1, min_passes=1, layer_repeats=1)
            print(json.dumps({"smoke": name, "correct": result["correct"],
                              "checks": details["checks"]}), flush=True)
            if not result["correct"] or result["failed"]:
                failures.append(name)
        if failures:
            print(f"smoke failed: {failures}", file=sys.stderr)
            return 1
        print(json.dumps({"smoke": "ok"}))
        return 0
    result, details = run(args.workload, args.seed, args.seconds, bool(args.trace),
                          rows=SIZES[args.workload],
                          setups=1 if args.trace else SETUPS,
                          min_passes=MIN_PASSES, layer_repeats=LAYER_REPEATS)
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
