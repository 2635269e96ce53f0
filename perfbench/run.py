#!/usr/bin/env python3
"""The repo benchmark: one command for the three workloads.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Each run is a fresh process with one
Spark session on ``local[<cores>]``.  It makes its inputs from
``--seed`` under a fresh temp root inside the working directory, does an
untimed set-up (inputs, warm-up, correctness gate), then runs the
workload's closed loop with one client in whole cycles until
``--seconds`` have elapsed, checks the outputs, removes the temp root
and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the loop untraced, then with spans and engine
counters on, then untraced again, and reports the per-layer metrics
(aggregated per op) plus the tracing overhead; the spans, per-op
records and per-layer self times go to
``.bench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T0 = time.time()


def process_start() -> float:
    """Wall-clock start of this process (from /proc), else import time."""
    try:
        with open("/proc/self/stat") as fh:
            ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return T0


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, spark, seed: int, root: str) -> None:
        import numpy as np

        from perfbench.tracer import Tracer

        self.spark = spark
        self.seed = seed
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(spark, enabled=False)
        self.attempted = 0
        self.failed = 0

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def gate(self, ok: bool, what: str = "") -> None:
        """Count one untimed correctness check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.log(f"check failed: {what}")

    def check(self, what: str, fn) -> bool:
        """Run one untimed check ``fn() -> bool`` and count it; a check
        that raises fails."""
        try:
            ok = bool(fn())
        except Exception as e:
            self.log(f"check {what} raised {type(e).__name__}: {e}")
            ok = False
        self.gate(ok, what)
        return ok

    def after_op(self, rec: dict) -> None:
        """Count a finished op; in traced loops read its counters."""
        self.attempted += 1
        if not rec["ok"]:
            self.failed += 1
            self.log(f"op failed: {rec['kind']} {rec['name']}")
        self.tracer.read_counters(rec)


def loop(run: Run, wl, seconds: float) -> list[float]:
    """Whole cycles until ``seconds`` have elapsed; returns each cycle's
    summed op wall (s)."""
    cycles = []
    t0 = time.perf_counter()
    while not cycles or time.perf_counter() - t0 < seconds:
        n0 = len(run.tracer.ops)
        wl.cycle(run)
        cycles.append(sum(r["wall_ms"] for r in run.tracer.ops[n0:]) / 1000.0)
    return cycles


def end_to_end(run: Run, wl, cycles: list[float], setup_s: float, jvm_pid: int) -> dict:
    ops = run.tracer.ops
    walls = [r["wall_ms"] for r in ops]
    cold = [r["wall_ms"] for r in ops if r["kind"] in wl.COLD_KINDS]
    rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
    vals = {
        "setup_s": (setup_s, "s"),
        "pass_s": (p50(cycles), "s"),
        "op_p50_ms": (p50(walls), "ms"),
        "cold_mean_ms": (sum(cold) / len(cold), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def run_workload(args) -> dict:
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    from pyspec_spark import registry
    from pyspec_spark.session import get_spark

    start = process_start()
    registry.load_all()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    jvm = spark.sparkContext._jvm
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    run = Run(spark, args.seed, args.root)
    wl = WORKLOADS[args.workload](small=args.small)
    try:
        wl.prepare(run)
        wl.begin(run)
        wl.cycle(run)  # warm-up: one untimed cycle
        run.tracer.ops.clear()
        setup_s = time.time() - start
        wl.begin(run)
        cycles = loop(run, wl, args.seconds)
        untraced = run.tracer.ops
        if args.trace:
            from perfbench.layers import per_layer
            from perfbench.tracer import Tracer

            run.tracer = Tracer(spark, enabled=True)
            try:
                wl.begin(run)
                loop(run, wl, args.seconds)
                wl.verify(run)
                files_live = wl.files_live() if hasattr(wl, "files_live") else 0
            finally:
                run.tracer.close()
            # an untraced loop on each side of the traced one, so the
            # JIT gain between loops cancels out of the tracing overhead
            traced = run.tracer
            run.tracer = Tracer(spark, enabled=False)
            wl.begin(run)
            loop(run, wl, args.seconds)
            after = run.tracer.ops
            run.tracer = traced
            metrics, detail = per_layer(run, wl, (untraced, after), files_live)
            out = os.path.join(os.getcwd(), ".bench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(detail, fh, indent=1, default=str)
        else:
            wl.verify(run)
            metrics = end_to_end(run, wl, cycles, setup_s, jvm_pid)
    finally:
        stop_spark(spark)
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="smallest inputs, for perfbench/selftest.py only")
    args = ap.parse_args()

    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, "pyspec_spark")):
        print("perfbench: run from the repository root (no pyspec_spark/ here)",
              file=sys.stderr)
        return 2
    args.root = os.path.join(cwd, ".bench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(args.root, "tmp"))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(args.root, "spark-local"),
        "TMPDIR": os.path.join(args.root, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (cwd, os.environ.get("PYTHONPATH")) if p),
        # A fixed initial heap and young generation: grown from the JVM
        # defaults, G1's adaptive sizing made op walls and peak RSS vary
        # by about 20% between runs on 4 cores.  No perf-data file: the
        # JVM would write it under /tmp, outside the working directory.
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={args.root}/tmp "
            "-Xms4g -Xmn1g -XX:-UsePerfData' pyspark-shell"),
    })
    sys.path.insert(0, cwd)
    try:
        result = run_workload(args)
    finally:
        shutil.rmtree(args.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(args.root))
        except OSError:
            pass
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
