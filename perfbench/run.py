#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Runs one workload of ``perfbench.metrics`` (``WORKLOADS``, the ones
BENCHMARK.json lists, or ``EXTRA_WORKLOADS``) against the engine in this
checkout, checks its outputs, and prints two JSON lines: a summary
(environment, load stamps, correctness checks and the workload's named
metrics) and, last, the result object ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics and writes the run's spans to
``.perfbench_out/``.  ``--tiny`` shrinks every input for a smoke run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, metrics  # noqa: E402

OUT_DIR = os.path.join(harness.ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(harness.ROOT, ".perfbench_work")


class Context:
    def __init__(self, args, spark, tracer, counters, work_dir):
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tiny = args.tiny
        self.work_dir = work_dir
        self.setup_work_s = 0.0  # median of the workload's repeated set-up
        self.warmup_s = 0.0


def _workload_module(name: str):
    if name == "cdc_replicate":
        from perfbench import wl_cdc as m
    elif name == "curation_drain":
        from perfbench import wl_curation as m
    else:
        from perfbench import wl_query as m
    return m


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted({**metrics.WORKLOADS, **metrics.EXTRA_WORKLOADS}))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    args = ap.parse_args(argv)

    env = harness.pin_environment()
    try:  # the engine must be present in this checkout; fail before any output
        import postgres_cdc_example_spark.streaming.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2

    mod = _workload_module(args.workload)
    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    res = harness.Result(args.workload, args.seed, bool(args.trace), env)
    tracer = harness.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            spark, session_s = harness.start_session()
        counters = harness.SparkCounters(spark) if args.trace else None
        ctx = Context(args, spark, tracer, counters, work_dir)
        t_run = time.perf_counter()
        mod.run(ctx, res)
        run_s = time.perf_counter() - t_run
        res.e2e["setup_s"] = (session_s + ctx.warmup_s + ctx.setup_work_s, "s")
        res.named.update(
            {
                "setup_s": res.e2e["setup_s"],
                "session_start_s": (session_s, "s"),
                "peak_rss_mb": (harness.peak_rss_mb(), "MB"),
                "failed_frac": (res.failed / max(res.attempted, 1), "ratio"),
                "run_wall_s": (run_s, "s"),
            }
        )
        res.layer["run.failed_frac"] = res.named["failed_frac"]
        res.layer["run.peak_rss_mb"] = res.named["peak_rss_mb"]
        res.layer["run.latency_p99_s"] = res.e2e["latency_p99_s"]
        _trace_overhead(args, res, counters, tracer)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    _save(args, res, tracer)
    declared_layer = [n for n, _ in metrics.PER_LAYER]
    if args.workload == "curation_drain":
        declared_layer += [n for n, _ in metrics.CURATION_LAYER]
    declared_e2e = [n for n, *_ in metrics.END_TO_END]
    res.emit(declared_e2e, declared_layer, metrics.E2E_UNITS, metrics.LAYER_UNITS)
    return 0


def _trace_overhead(args, res, counters, tracer) -> None:
    """Traced runs report their own cost: time spent reading counters, and
    the headline throughput against the last untraced run of the same
    workload in this checkout (0 when there is none)."""
    if not args.trace:
        return
    res.layer["trace.counter_read_s"] = (counters.read_s if counters else 0.0, "s")
    try:
        with open(os.path.join(OUT_DIR, f"last_{args.workload}.json")) as f:
            base = json.load(f)["throughput_per_s"]
        now = res.e2e["throughput_per_s"][0]
        res.layer["trace.overhead_frac"] = (base / now - 1.0 if now else 0.0, "ratio")
    except (OSError, KeyError, ValueError):
        res.layer["trace.overhead_frac"] = (0.0, "ratio")


def _save(args, res, tracer) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    art = {
        "workload": args.workload,
        "seed": args.seed,
        "env": res.env,
        "loadavg_end": list(os.getloadavg()),
        "checks": res.checks,
        "valid": res.valid,
        "named": res.named,
        "end_to_end": res.e2e,
        "per_layer": res.layer,
    }
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(art, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(OUT_DIR, f"{tag}.spans.json"), {"workload": args.workload, "seed": args.seed, "env": res.env})
    elif "throughput_per_s" in res.e2e and not args.tiny:
        with open(os.path.join(OUT_DIR, f"last_{args.workload}.json"), "w") as f:
            json.dump({"throughput_per_s": res.e2e["throughput_per_s"][0]}, f)


if __name__ == "__main__":
    sys.exit(main())
