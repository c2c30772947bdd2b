#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload release_stream --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. Builds its inputs from the seed
under ``.perfbench_run/`` in the checkout (Spark's scratch space too),
drives the package through its public functions on `local[nproc]`, checks
every result against the oracle, and prints one line per metric (value,
unit and the number of samples behind it), then one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones of the traced run, which runs the
timed window twice in one process: untraced (the overhead baseline), then
with every layer's public functions rebound to span-recording wrappers.
Exits non-zero,
printing no result, when the package is missing or set-up fails.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402  (stdlib only; the package check comes later)

RUN_DIR = os.path.join(ROOT, ".perfbench_run")
# Spark sizing pinned for a 4-core, 15 GB host shared with other jobs:
# one core per local task slot, and a 3 GB driver heap instead of the
# package's 16 GB default.
CPUS = str(len(os.sched_getaffinity(0)))
DRIVER_MEM = "3g"


def _pin_env(tmp: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Context:
    """What a workload sees: the session, its seed, its directory, and
    the window/phase hooks of the traced run."""

    def __init__(self, spark, seed: int, seconds: int, work: str):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = None  # set before the traced window
        self.setup_end: float | None = None

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else nullcontext()

    def start_window(self) -> None:
        if self.setup_end is None:
            self.setup_end = time.perf_counter()
        if self.tracer:
            self.tracer.set_phase("window")

    def end_window(self) -> None:
        if self.tracer:
            self.tracer.set_phase("check")


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers; wait for all."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = procs.children(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in kids:
        while procs.alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if procs.alive(pid):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "gfe_db_spark", "__init__.py")):
        print(f"perfbench: no gfe_db_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _pin_env(tmp)
    spark = None
    try:
        from gfe_db_spark import session
        from perfbench.workloads import Outcome

        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = Context(spark, args.seed, args.seconds, work)
        out = Outcome()
        window = WORKLOADS[args.workload](ctx, out)
        if args.trace:
            from perfbench.trace import Span, Tracer

            # the same window untraced first: the overhead baseline
            base = window(0)
            tracer = Tracer(spark)
            tracer.spans.append(Span(0, None, "session", "get_spark", "setup", t0, t0 + session_s))
            tracer.install()
            ctx.tracer = tracer
            samples = window(1)
            result, counts = _traced_result(args, ctx, out, samples, base, spark)
        else:
            samples = window(0)
            result, counts = _result(ctx, out, samples, t_proc, spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    for e in out.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for k, m in result["metrics"].items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']} (samples: {counts[k]})")
    print(json.dumps(result))
    return 0


def _median(xs: list[float]) -> float:
    # no successful operation: 0, and correct/failed say why
    return statistics.median(xs) if xs else 0.0


def _summary(ctx: Context, samples, spark) -> dict:
    """Print the window's operations to stderr; return the figures the
    metrics share."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + procs.hwm_kb(jvm_pid)) / 1024
    work_per_s = samples.work_units / samples.window_s if samples.window_s else 0.0
    summary = {
        "seed": ctx.seed, "ops": len(samples.op_ms), "window_s": round(samples.window_s, 3),
        "op_ms": [round(x, 1) for x in samples.op_ms],
        "op_cpu_ms": [round(x, 1) for x in samples.op_cpu_ms], "kinds": samples.kinds,
        "work_per_s": work_per_s, "peak_rss_mb": rss_mb,
    }
    print("perfbench: " + json.dumps(summary), file=sys.stderr)
    return summary


def _package(out, metrics: dict) -> dict:
    return {
        "correct": out.failed == 0,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _result(ctx: Context, out, samples, t_proc: float, spark) -> tuple[dict, dict]:
    """End-to-end metrics, and the number of samples behind each."""
    from perfbench.workloads import _dir_bytes

    _summary(ctx, samples, spark)
    stored = sum(_dir_bytes(d) for d in out.stored_dirs)
    n = len(samples.op_ms)
    metrics = {
        "op_p50_ms": (_median(samples.op_ms), "ms"),
        "setup_s": (ctx.setup_end - t_proc, "s"),
        "stored_bytes_per_input_byte": (stored / out.input_bytes if out.input_bytes else 0.0, "B/B"),
    }
    # setup and stored bytes are measured once per run
    return _package(out, metrics), {"op_p50_ms": n, "setup_s": 1,
                                    "stored_bytes_per_input_byte": 1}


def _traced_result(args, ctx: Context, out, samples, base, spark) -> tuple[dict, dict]:
    """Per-layer metrics of the traced window, and the number of samples
    behind each: the window's operations, unless a metric is a median
    over a subset of them."""
    from perfbench.trace import layer_metrics

    summary = _summary(ctx, samples, spark)
    tr = ctx.tracer
    tr.set_phase("done")
    tr.dump(os.path.join(RUN_DIR, "traces", f"{args.workload}-{args.seed}.json"))
    metrics = {k: (v, _unit(k)) for k, v in layer_metrics(tr).items()}
    counts = dict.fromkeys(metrics, len(samples.op_ms))
    for kind in ("lookup", "cypher", "validation"):
        xs = [ms for ms, k in zip(samples.op_ms, samples.kinds) if k.startswith(kind)]
        metrics[f"request.{kind}_p50_ms"] = (_median(xs), "ms")
        counts[f"request.{kind}_p50_ms"] = len(xs)
    # traced minus untraced median operation time: the same requests or
    # the same ingest (from its own copy of the history), in this process
    overhead = _median(samples.op_ms) - _median(base.op_ms)
    print(f"perfbench: untraced op_ms {[round(x, 1) for x in base.op_ms]}", file=sys.stderr)
    metrics["trace.overhead_ms"] = (overhead, "ms")
    counts["trace.overhead_ms"] = min(len(samples.op_ms), len(base.op_ms))
    metrics["window.work_per_s"] = (summary["work_per_s"], "1/s")
    metrics["window.op_cpu_p50_ms"] = (_median(samples.op_cpu_ms), "ms")
    metrics["mem.peak_rss_mb"] = (summary["peak_rss_mb"], "MB")
    metrics["trace.bookkeeping_s"] = (tr.bookkeeping_s.get("window", 0.0), "s")
    for k in ("window.work_per_s", "window.op_cpu_p50_ms", "mem.peak_rss_mb",
              "trace.bookkeeping_s"):
        counts[k] = len(samples.op_ms)
    return _package(out, metrics), counts


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "B"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
