"""Per-query optimization profiler (guide §1: measure first).

Times individual registered queries through the noop sink on the bench
session (same warmups as bench.py), captures ``explain("formatted")``
per query, and prints per-query wall stats plus plan-shape counters
(Exchange count, join strategies, Python-eval nodes, task totals) and,
per timed repeat, the generated classes Spark compiled and the
milliseconds it spent compiling them (``CodegenMetrics``), so a query
that recompiles on every repeat shows it.

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
        tasks = 0
        for i in range(args.repeat):
            sc.setJobGroup(name, f"profile:{name}")
            n0, ms0 = codegen_totals(sc._jvm)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            n1, ms1 = codegen_totals(sc._jvm)
            compiles.append(n1 - n0)
            compile_ms.append(round(ms1 - ms0, 1))
            if i == 0:
                tracker = sc.statusTracker()
                for job_id in tracker.getJobIdsForGroup(name):
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
    spark.stop()


if __name__ == "__main__":
    main()
