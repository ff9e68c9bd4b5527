"""Per-query optimization profiler (guide §1: measure first).

Times individual registered queries through the noop sink on the bench
session (same warmups as bench.py), captures ``explain("formatted")``
per query, and prints per-query wall stats plus plan-shape counters
(Exchange count, join strategies, Python-eval nodes, task totals) and,
per timed repeat, the generated classes Spark compiled and the
milliseconds it spent compiling them (``CodegenMetrics``), so a query
that recompiles on every repeat shows it.

Each timed repeat also splits the query's cost into its build and its
execution: the py4j round trips its build made (``send_command``
calls, less the memory deletes py4j's finalizer sends when Python's
garbage collector runs), build milliseconds, and, from the status
store's job submission and completion times, the milliseconds from the
end of the build to the first job (planning the execution), inside
jobs, and between jobs. A round-trip count repeats exactly from run to run, so
a change to build cost can be stated as one.

Usage:
    PYTHONPATH=. python tools/profile_query.py [--repeat N] [--plans DIR] q1 q2 ...
    PYTHONPATH=. python tools/profile_query.py --top 20          # slowest by BENCH_FULL.json
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from py4j import protocol as proto

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end2end_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402


def plan_counters(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused": len(re.findall(r"ReusedExchange", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "py": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow)", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "aggs": len(re.findall(r"HashAggregate", plan)),
    }


def codegen_totals(jvm) -> tuple[int, float]:
    """(classes compiled, compile milliseconds) so far in this JVM, from
    ``CodegenMetrics``' compilation-time histogram. The milliseconds are
    the sum of its samples while its reservoir still holds every one,
    and mean x count after that."""
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count, snap = hist.getCount(), hist.getSnapshot()
    values = list(snap.getValues())
    return count, float(sum(values)) if len(values) == count else snap.getMean() * count


# per timed repeat: the build's py4j round trips, then milliseconds
PHASES = ("round_trips", "build_ms", "plan_ms", "job_ms", "gap_ms")


# The prefix of the command py4j's finalizer sends to free a JVM object
# once Python's garbage collector drops its last reference. Collection
# runs whenever the allocator decides, so these commands are not the
# build's and would make the count vary from run to run.
GC_DELETE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


class RoundTrips:
    """Counts the py4j commands the driver sends to the JVM, apart from
    the finalizer's memory deletes (``GC_DELETE``)."""

    def __init__(self, sc):
        client = type(sc._gateway._gateway_client)
        send = client.send_command
        self.count = 0

        def counting(gateway_client, command, *args, **kwargs):
            if not command.startswith(GC_DELETE):
                self.count += 1
            return send(gateway_client, command, *args, **kwargs)

        client.send_command = counting


def job_phases(sc, group: str, built_ms: float) -> tuple[float, float, float]:
    """(planning, in-job, between-job) milliseconds of the jobs of
    ``group``: from ``built_ms`` (epoch ms, the end of the build) to the
    first job's submission, inside the union of the jobs' submission to
    completion spans, and in the gaps of that union."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    store = jsc.statusStore()
    spans = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(job_id)
        spans.append(
            (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
        )
    if not spans:
        return 0.0, 0.0, 0.0
    spans.sort()
    inside, end = 0.0, spans[0][0]
    for start, stop in spans:
        inside += max(0, stop - max(start, end))
        end = max(end, stop)
    return spans[0][0] - built_ms, inside, end - spans[0][0] - inside


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir to write <name>.txt explains")
    ap.add_argument("--top", type=int, default=0, help="profile N slowest from BENCH_FULL.json")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(args.names)
    if args.top:
        rec = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_FULL.json")))
        names += [k for k, _ in sorted(rec["queries_min"].items(), key=lambda kv: -kv[1])[: args.top]]

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    queries = entrymod.queries()
    # bench-identical warmups
    queries["event_report_totals"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(256).repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    trips = RoundTrips(sc)
    results = {}
    for name in names:
        fn = queries[name]
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted") \
            if hasattr(df._sc._jvm, "PythonSQLUtils") else ""
        if not plan:
            import io
            import contextlib
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)
        walls = []
        compiles, compile_ms = [], []
        phases = {k: [] for k in PHASES}
        tasks = 0
        for i in range(args.repeat):
            group = f"{name}:{i}"
            sc.setJobGroup(group, f"profile:{name}")
            n0, ms0 = codegen_totals(sc._jvm)
            trips0 = trips.count
            t0, epoch0 = time.perf_counter(), time.time()
            built = fn(spark, sf_dir)
            build_s = time.perf_counter() - t0
            build_trips = trips.count - trips0
            built.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            n1, ms1 = codegen_totals(sc._jvm)
            compiles.append(n1 - n0)
            compile_ms.append(round(ms1 - ms0, 1))
            plan_ms, job_ms, gap_ms = job_phases(sc, group, (epoch0 + build_s) * 1000)
            phases["round_trips"].append(build_trips)
            for k, ms in zip(PHASES[1:], (build_s * 1000, plan_ms, job_ms, gap_ms)):
                phases[k].append(round(ms, 1))
            if i == 0:
                tracker = sc.statusTracker()
                for job_id in tracker.getJobIdsForGroup(group):
                    info = tracker.getJobInfo(job_id)
                    if info is None:
                        continue
                    for stage_id in info.stageIds:
                        sinfo = tracker.getStageInfo(stage_id)
                        if sinfo is not None:
                            tasks += sinfo.numTasks
        c = plan_counters(plan)
        results[name] = {
            "first": round(walls[0], 3),
            "min": round(min(walls), 3),
            "tasks": tasks,
            "compiles": compiles,
            "compile_ms": compile_ms,
            **phases,
            **c,
        }
        print(json.dumps({name: results[name]}), flush=True)

    print("== summary ==")
    for name, r in sorted(results.items(), key=lambda kv: -kv[1]["min"]):
        print(f"{r['min']:7.3f}s min {r['first']:7.3f}s first  tasks={r['tasks']:<5} "
              f"exch={r['exchanges']}(-{r['reused']}) smj={r['smj']} bhj={r['bhj']} "
              f"shj={r['shj']} py={r['py']} sorts={r['sorts']} aggs={r['aggs']} "
              f"compiles={'/'.join(map(str, r['compiles']))} "
              f"compile_ms={'/'.join(f'{x:g}' for x in r['compile_ms'])}  {name}")
        print("        " + "  ".join(
            f"{k}={'/'.join(f'{x:g}' for x in r[k])}"
            for k in PHASES))
    spark.stop()


if __name__ == "__main__":
    main()
