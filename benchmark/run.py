"""Benchmark entry point.

    python3 benchmark/run.py --workload dashboard_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run makes its
inputs from ``--seed``, starts a fresh Spark application, measures for
``--seconds``, checks the outputs, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` spans are recorded around every call into the engine and
the metrics are the per-layer ones. Lines before it report the host
(``nproc``, load average at start and end), the failed-op ratio and,
for traced runs, where the span file was written.

Inputs, checkpoints, the Spark warehouse and local dirs all live in a
per-run directory under ``.bench_tmp/`` in the checkout, removed when
the run ends; only the latest span file per workload is kept there.

``bench.py`` at the repository root remains a sweep over the whole
query registry; this benchmark's metric names are the ones performance
claims cite.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".bench_tmp")
# heap of the Spark application's JVM; the engine's 12g default is
# sized for a 128 GiB host, far above what one benchmark run should
# take of a 16 GB host shared with other processes
JVM_HEAP = "1g"


def _configure_env(work: str) -> None:
    """Size the engine for this host and keep every file it writes
    inside ``work``; must run before the engine is imported."""
    # half the CPUs: the JVM's collector and compiler threads, the
    # driving Python process and the Arrow Python workers run beside
    # the Spark tasks, and on a 4-vCPU share of a busy host local[4]
    # ran report cycles twice as slow as local[2] and spread far wider
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            # collect() turns timestamps into Python datetimes in the
            # local zone; UTC matches the Spark session's zone
            "TZ": "UTC",
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # Python workers import the engine's UDFs by module path
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_SQL_CONF", None)
    time.tzset()
    tempfile.tempdir = tmp


def host_cpu_ms() -> float:
    """Time of a fixed single-threaded loop: a note on how fast this
    host's CPUs ran during the run, for reading drift across runs."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t0) * 1000.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    from benchmark.trace import Tracer, median
    from benchmark.workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "end2end_data_pipeline_spark")):
        print("engine package end2end_data_pipeline_spark not found", file=sys.stderr)
        return 2

    os.makedirs(SCRATCH, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=SCRATCH)
    _configure_env(work)
    os.chdir(work)  # anything written relative to the cwd stays in the run dir
    load_start, cpu_start = os.getloadavg(), host_cpu_ms()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(work, args.seed, args.seconds, tracer)
    try:
        run = WORKLOADS[args.workload](ctx)
    finally:
        try:
            if ctx.engine is not None:
                ctx.engine.close()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)

    notes = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "cpus_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "host_cpu_ms": [round(cpu_start, 1), round(host_cpu_ms(), 1)],
        "ops": run.attempted,
        "measured_s": round(run.measured_s, 3),
        "failed_op_ratio": run.failed / max(1, run.attempted),
        "jvm_peak_rss_mb": round(run.rss_mb, 1),
        "jvm_live_heap_mb": round(run.live_heap_mb, 1),
        "op_median_s": {k: round(median(v), 4) for k, v in sorted(run.by_op.items())},
        "errors": run.errors[:10],
        **run.notes,
    }
    if args.trace:
        trace_path = os.path.join(SCRATCH, f"trace-{args.workload}.jsonl")
        tracer.write(trace_path)
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = dict(run.layers)
        metrics["session.get_spark_s"] = (ctx.engine.get_spark_s, "s")
        metrics["session.jvm_peak_rss_mb"] = (run.rss_mb, "MB")
        metrics["session.jvm_live_heap_mb"] = (run.live_heap_mb, "MB")
        selfs = tracer.self_times()
        for layer in (
            "bench", "session", "operators", "sources", "functions",
            "streaming", "report_service", "generator",
        ):
            metrics[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
        metrics["trace.bookkeeping_per_op_s"] = (
            tracer.bookkeeping_s / max(1, run.attempted),
            "s",
        )
        metrics["trace.op_latency_p50_s"] = (median(run.latency_sample()), "s")
    else:
        metrics = run.end_to_end()
    print(json.dumps(notes))
    print(
        json.dumps(
            {
                "correct": run.failed == 0 and run.attempted > 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
