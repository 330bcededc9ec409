"""Benchmark of the micce_search_engine_spark engine through its public API.

    python3 perfbench/run.py --workload {ingest,query} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Each run is a fresh process with one
Spark session at ``local[<cpus>]``. Progress goes to stderr; the last
line of stdout is one JSON record
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics (tracing off); with ``--trace 1``
they are the per-layer metrics of a traced run. See WORKLOADS.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import common  # noqa: E402

with open(os.path.join(common.REPO_ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
#: metric name -> unit, as BENCHMARK.json declares them. Every workload
#: reports every end-to-end metric (see WORKLOADS.md for what the
#: operation is on each); a layer a workload bypasses reads 0.
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def now() -> float:
    """Seconds since boot, on the clock /proc gives process start times in."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start() -> float:
    """``now()`` at the moment this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return start_ticks / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Context:
    """What a workload receives: inputs, the session, the tracer, the
    result record, the workload's cached inputs (if it has any) and the
    set-up clock."""

    def __init__(self, args, spark, run_dir: str, started: float, cache_dir: str | None):
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spark = spark
        self.run_dir = run_dir
        self.cache_dir = cache_dir
        self.cores = common.cpus()
        self.tracer = Tracer(spark, self.trace)
        self.result = common.Result()
        self.layers: dict[str, float] = {}
        self._started = started
        self.setup_s: float | None = None

    def setup_done(self) -> None:
        """Call right before the first timed operation."""
        self.setup_s = now() - self._started

    def layer(self, name: str, value: float) -> None:
        if name not in PER_LAYER:
            raise KeyError(f"undeclared per-layer metric {name}")
        self.layers[name] = float(value)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the workload's cached inputs into DIR and exit
    ap.add_argument("--build-cache", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()
    started = process_start()

    pkg = os.path.join(common.REPO_ROOT, common.PACKAGE, "__init__.py")
    if not os.path.isfile(pkg):
        common.log(f"engine package not found next to {BENCH_DIR}; run from a checkout")
        return 2
    common.redirect_temp()
    workload = importlib.import_module(f"wl_{args.workload}")
    if args.build_cache:
        with common.run_directory() as run_dir:
            spark = common.get_session(run_dir, False)
            try:
                workload.build_cache(spark, args.build_cache)
            finally:
                stop_session(spark)
        return 0
    cache_dir = None
    if hasattr(workload, "build_cache"):
        # built by a child process with its own session, so a run that
        # builds the cache times the same cold session as one that reuses it
        child = [sys.executable, os.path.abspath(__file__), "--workload", args.workload]
        child += ["--seed", "0", "--seconds", "0", "--build-cache"]
        cache_dir, built_s = common.cached_dir(args.workload, workload.cache_key(), child)
        if built_s:
            common.log(f"built the cached inputs in {built_s:.1f}s (not set-up)")
            started += built_s
    with common.run_directory() as run_dir:
        common.log(f"workload {args.workload}, seed {args.seed}")
        spark = common.get_session(run_dir, bool(args.trace))
        common.log("session up")
        ctx = Context(args, spark, run_dir, started, cache_dir)
        try:
            workload.run(ctx)
        finally:
            common.log("stopping")
            stop_session(spark)
        if ctx.trace:
            from probes import kernel_probes

            workload.traced_metrics(ctx, os.path.join(run_dir, "eventlog"))
            for name, value in kernel_probes(ctx.texts).items():
                ctx.layer(name, value)
            ctx.layer("trace.spans", len(ctx.tracer.spans))
            ctx.layer("trace.overhead_ms", ctx.tracer.overhead_s * 1000.0)
            ctx.tracer.write(
                os.path.join(common.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            )
    res = ctx.result
    if ctx.trace:
        res.metrics = {}
        for name, unit in PER_LAYER.items():
            res.put(name, ctx.layers.get(name, 0.0), unit)
    else:
        res.put("setup_s", ctx.setup_s, "s")
        for name, unit in END_TO_END.items():
            if res.metrics.get(name, {}).get("unit") != unit:
                raise RuntimeError(f"workload did not report {name} in {unit}")
    for p in res.problems:
        common.log(f"FAILED: {p}")
    print(json.dumps(res.record()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
