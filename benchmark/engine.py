"""The benchmark's handle on the engine: one Spark application per run,
queries run as timed ops, and the probes that time single layers.

Everything here calls the engine through its public functions
(``session.get_spark``, the query registry, ``sources.tables``,
``functions.texthash`` / ``functions.vectors``); spans are recorded
around those calls, never inside them.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from benchmark.trace import Tracer


class Engine:
    """A fresh Spark application whose scratch space lives in ``work``.

    ``close`` stops the application and waits for the JVM (and with it
    the Python workers it forked) to exit."""

    def __init__(self, work: str, tracer: Tracer, app_name: str):
        from end2end_data_pipeline_spark.session import get_spark

        self.tracer = tracer
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'tmp')}"
            ),
        }
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            self.spark = get_spark(app_name=app_name, extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._proc: subprocess.Popen = self.sc._gateway.proc

    def memory_mb(self) -> tuple[float, float]:
        """(peak resident set size of the JVM, its live heap after a
        full collection), in MB. The peak moves with how far the
        collector let the heap grow; the live heap is what the session
        actually retains."""
        import gc

        with open(f"/proc/{self._proc.pid}/status") as f:
            hwm = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        gc.collect()  # drop Python proxies, so the JVM may free their objects
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        live = bean.getHeapMemoryUsage().getUsed()
        return hwm / 1024.0, live / 2**20

    def close(self) -> None:
        self.spark.stop()
        # the gateway JVM exits when its stdin closes
        self.sc._gateway.shutdown()
        if self._proc.stdin:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def job_counts(sc, group: str) -> JobCounts:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    out = JobCounts()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its output was reused
            out.stages += 1
            out.tasks += st.numCompletedTasks
            out.failed_tasks += st.numFailedTasks
    return out


@dataclass
class OpResult:
    name: str
    latency_s: float
    ok: bool
    error: str = ""
    build_s: float = 0.0
    execute_s: float = 0.0
    build: JobCounts = field(default_factory=JobCounts)
    execute: JobCounts = field(default_factory=JobCounts)


def run_query_op(engine: Engine, op_id: int, name: str, sf_dir: str, queries) -> OpResult:
    """One op: build the query, then run it through the ``noop`` sink.

    Traced runs put the build and execute phases in separate job groups
    and read back what Spark ran in each."""
    tr, sc = engine.tracer, engine.sc
    tr.op = op_id
    t0 = time.perf_counter()
    res = OpResult(name, 0.0, True)
    try:
        with tr.span("bench.op"):
            if tr.enabled:
                sc.setJobGroup(f"op{op_id}-build", name)
            with tr.span("operators.build"):
                df = queries[name](engine.spark, sf_dir)
            t1 = time.perf_counter()
            if tr.enabled:
                sc.setJobGroup(f"op{op_id}-execute", name)
            with tr.span("operators.execute"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        res.ok, res.error = False, f"{type(exc).__name__}: {str(exc)[:300]}"
        res.latency_s = time.perf_counter() - t0
        return res
    finally:
        if tr.enabled:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tr.op = None
    res.latency_s = t2 - t0
    res.build_s, res.execute_s = t1 - t0, t2 - t1
    if tr.enabled:
        b0 = time.perf_counter()
        res.build = job_counts(sc, f"op{op_id}-build")
        res.execute = job_counts(sc, f"op{op_id}-execute")
        tr.bookkeeping_s += time.perf_counter() - b0
    return res


class Collected:
    """Rows already collected from a query, shaped like the DataFrame
    ``tools.oracle_check.compare_query`` expects (``columns`` and
    ``collect()``), so a query's output is checked without running it
    a second time."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list:
        return self._rows


def check_queries(sf_dir: str, outputs: dict, oracles: dict) -> dict[str, str]:
    """Compare collected outputs with their DuckDB oracles; returns
    query name -> reason for every query that failed."""
    from tools.oracle_check import compare_query, duckdb_connection

    bad: dict[str, str] = {}
    con = duckdb_connection(sf_dir)
    try:
        for name, out in outputs.items():
            if isinstance(out, str):
                bad[name] = out
                continue
            if name not in oracles:
                if not out.collect():
                    bad[name] = "no rows"
                continue
            try:
                r = compare_query(out, con, oracles[name])
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                bad[name] = f"oracle error {type(exc).__name__}: {str(exc)[:200]}"
                continue
            keys = ("rows_match", "cols_match", "values_match")
            if not all(r[k] for k in keys):
                bad[name] = str({k: r[k] for k in keys})
    finally:
        con.close()
    return bad


def collect_query(engine: Engine, name: str, sf_dir: str, queries) -> Collected | str:
    """Build and collect one query; an error message if it raised."""
    try:
        df = queries[name](engine.spark, sf_dir)
        return Collected(list(df.columns), [tuple(r) for r in df.collect()])
    except Exception as exc:  # noqa: BLE001 — reported as a failed check
        return f"{type(exc).__name__}: {str(exc)[:300]}"


# ---------------------------------------------------------------- probes


def probe_sources(engine: Engine, sf_dir: str) -> dict[str, float]:
    """Load every input table and scan it through the ``noop`` sink."""
    from end2end_data_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    tr = engine.tracer
    load = scan = 0.0
    with tr.span("bench.probe_sources"):
        for name in TABLE_NAMES:
            t0 = time.perf_counter()
            with tr.span("sources.load_table"):
                df = load_table(engine.spark, sf_dir, name)
            t1 = time.perf_counter()
            with tr.span("sources.scan"):
                df.write.format("noop").mode("overwrite").save()
            load += t1 - t0
            scan += time.perf_counter() - t1
    return {"sources.load_table_s": load, "sources.scan_s": scan}


def probe_functions(engine: Engine, sf_dir: str) -> dict[str, float]:
    """Run the ``texthash`` and ``vectors`` SQL kernels over
    ``documents`` and ``embeddings`` through the ``noop`` sink."""
    from end2end_data_pipeline_spark.functions import texthash as th
    from end2end_data_pipeline_spark.functions import vectors as vx
    from end2end_data_pipeline_spark.sources.tables import load_table

    sp, tr = th.SPARK, engine.tracer
    docs = load_table(engine.spark, sf_dir, "documents")
    embs = load_table(engine.spark, sf_dir, "embeddings")
    toks = th.tokens("text", sp)
    hashes = th.base_hashes(th.shingles(toks, 3, sp), sp)
    text_exprs = [
        f"{th.minhash_affine(hashes, a, b, sp)} AS mh{j}"
        for j, (a, b) in enumerate(th.affine_coeffs(8))
    ] + [
        f"{th.simhash(th.token_hashes(toks, sp), 64, sp)} AS sh",
        f"{th.fingerprint(toks, sp)} AS fp",
    ]
    q = vx.quantize("embedding", sp)
    vec_exprs = [
        f"{vx.lsh_bucket(q, sp)} AS bucket",
        f"{vx.dot_q(q, q, sp)} AS sq_norm",
    ]
    out = {}
    with tr.span("bench.probe_functions"):
        for key, frame, exprs in (
            ("functions.texthash_probe_s", docs, text_exprs),
            ("functions.vectors_probe_s", embs, vec_exprs),
        ):
            t0 = time.perf_counter()
            with tr.span(key.rsplit("_s", 1)[0]):
                frame.selectExpr(*exprs).write.format("noop").mode("overwrite").save()
            out[key] = time.perf_counter() - t0
    return out

