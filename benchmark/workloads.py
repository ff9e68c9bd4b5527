"""The benchmark's workloads. Each is a closed loop with one client: the next
op starts when the previous one has returned.

- ``dashboard_queries``: interactive analytics queries in a long-lived,
  warmed-up session.
- ``minute_reports``: the reference's whole loop: a minute's events
  land, the streaming job publishes the closed minute's report to the
  report service, and the dashboard reads it back.

Ops run until ``seconds`` have passed. The dashboard's ops make
passes over its query set, each pass in a new order drawn from the
seed, so every query runs about as often as every other.
"""

from __future__ import annotations

import inspect
import os
import random
import time
from dataclasses import dataclass, field

from benchmark import engine as eng_mod
from benchmark.datagen import write_tables
from benchmark.engine import Engine, OpResult
from benchmark.trace import Tracer, mean, median, percentile

# Scale factor of the generated tables (lineitem has 6M * sf rows). At
# sf0.01 an op's time is mostly planning and scheduling; sf0.1 made one
# warm-up pass of the dashboard queries take longer than a whole run
# may.
SF = 0.01

# The reference's flagship pivot, the event-stream analytics and the
# TPC-H-style joins an analyst dashboard serves.
DASHBOARD_QUERIES = (
    "event_status_pivot",
    "event_minute_counts",
    "event_error_rate",
    "event_sessionization",
    "asof_last_view_before_purchase",
    "session_top_paths",
    "lineitem_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "top_orders_per_customer",
)

# minute_reports: how far the published report trails the newest minute
# (the 2-minute watermark closes minute i - 3 when minute i lands)
REPORT_LAG = 3
REPORT_TIMEOUT_S = 30.0


@dataclass
class Run:
    """What one workload run measured."""

    setup_s: float = 0.0
    measured_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    rss_mb: float = 0.0
    live_heap_mb: float = 0.0
    errors: list[str] = field(default_factory=list)
    by_op: dict[str, list[float]] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)

    @property
    def latencies(self) -> list[float]:
        return [x for lat in self.by_op.values() for x in lat]

    def latency_sample(self) -> list[float]:
        """What the latency percentiles are taken over. A mix of queries
        gives one value per query, its median latency, so every query
        counts once however often the run reached it (a run ends part
        way through a pass, and which queries that pass reached would
        otherwise move the tail); a single kind of op gives every op."""
        if len(self.by_op) == 1:
            return self.latencies
        return [median(v) for v in self.by_op.values()]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = self.latency_sample() or [0.0]
        return {
            "setup_s": (self.setup_s, "s"),
            "op_latency_p50_s": (median(lat), "s"),
            "op_latency_p75_s": (percentile(lat, 75), "s"),
            "ops_per_s": (self.attempted / self.measured_s, "1/s"),
        }


class Context:
    def __init__(self, work: str, seed: int, seconds: int, tracer: Tracer):
        self.work, self.seed, self.seconds, self.tracer = work, seed, seconds, tracer
        self.engine: Engine | None = None
        self._next_op = 0

    def tables(self) -> str:
        sf_dir = os.path.join(self.work, "sf")
        write_tables(sf_dir, SF, self.seed)
        return sf_dir

    def start_engine(self, app_name: str) -> Engine:
        self.engine = Engine(self.work, self.tracer, app_name)
        return self.engine

    def op_id(self) -> int:
        self._next_op += 1
        return self._next_op


def _loop(ctx: Context, run: Run, one_op) -> None:
    """Run ops until ``ctx.seconds`` have passed or there is none left
    to run; ``one_op`` returns ``(name, latency_s, ok, error)``, or
    None when it has nothing left."""
    t0 = time.perf_counter()
    while (op := one_op()) is not None:
        name, latency, ok, err = op
        run.by_op.setdefault(name, []).append(latency)
        run.attempted += 1
        if not ok:
            run.failed += 1
            run.errors.append(err)
        run.measured_s = time.perf_counter() - t0
        if run.measured_s >= ctx.seconds:
            return


def _operator_layers(run: Run, ops: list[OpResult]) -> dict[str, tuple[float, str]]:
    ok = [o for o in ops if o.ok] or ops
    jobs: dict[str, list[int]] = {}
    for o in ok:
        jobs.setdefault(o.name, []).append(o.build.jobs)
    # queries that start Spark jobs while they are being built
    run.notes["build_jobs_by_op"] = {n: mean(v) for n, v in sorted(jobs.items()) if any(v)}
    return {
        "operators.build_s": (median([o.build_s for o in ok]), "s"),
        "operators.build_jobs": (mean([o.build.jobs for o in ok]), "count"),
        "operators.execute_s": (median([o.execute_s for o in ok]), "s"),
        "operators.jobs": (mean([o.execute.jobs for o in ok]), "count"),
        "operators.stages": (mean([o.execute.stages for o in ok]), "count"),
        "operators.tasks": (mean([o.execute.tasks for o in ok]), "count"),
        "operators.failed_tasks": (
            mean([o.build.failed_tasks + o.execute.failed_tasks for o in ok]),
            "count",
        ),
    }


def _query_op(ctx: Context, name: str, sf_dir: str, queries, ops: list[OpResult]):
    r = eng_mod.run_query_op(ctx.engine, ctx.op_id(), name, sf_dir, queries)
    ops.append(r)
    return name, r.latency_s, r.ok, f"{name}: {r.error}"


def _fail_checked(run: Run, ops: list[OpResult], bad: dict[str, str]) -> None:
    """Count every op of a query whose output check failed."""
    for name, why in bad.items():
        run.errors.append(f"check {name}: {why}")
    run.failed += sum(1 for o in ops if o.ok and o.name in bad)


def _traced_probes(ctx: Context, run: Run, sf_dir: str, streaming: bool) -> None:
    run.layers.update(
        {k: (v, "s") for k, v in eng_mod.probe_sources(ctx.engine, sf_dir).items()}
    )
    run.layers.update(
        {k: (v, "s") for k, v in eng_mod.probe_functions(ctx.engine, sf_dir).items()}
    )
    if streaming:
        _streaming_probe(ctx, run)


# ---------------------------------------------------------------- dashboard


def dashboard_queries(ctx: Context) -> Run:
    """Interactive queries over sf0.01 tables in a warmed-up session,
    in passes over the query set, each in an order drawn from the seed."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    sf_dir = ctx.tables()
    run = Run()
    t0 = time.perf_counter()
    engine = ctx.start_engine("bench-dashboard_queries")
    # the warm-up runs each query once, the way the timed ops do
    for name in DASHBOARD_QUERIES:
        _query_op(ctx, name, sf_dir, queries, [])
    run.setup_s = time.perf_counter() - t0
    rng = random.Random(ctx.seed)

    def passes():
        while True:
            yield from rng.sample(DASHBOARD_QUERIES, len(DASHBOARD_QUERIES))

    names = passes()
    ops: list[OpResult] = []
    _loop(ctx, run, lambda: _query_op(ctx, next(names), sf_dir, queries, ops))
    run.rss_mb, run.live_heap_mb = engine.memory_mb()
    # checked after the timed ops, so the collected outputs come from
    # the same warm session caches they read
    outputs = {
        n: eng_mod.collect_query(engine, n, sf_dir, queries) for n in DASHBOARD_QUERIES
    }
    _fail_checked(run, ops, eng_mod.check_queries(sf_dir, outputs, oracles))
    if ctx.tracer.enabled:
        run.layers.update(_operator_layers(run, ops))
        _traced_probes(ctx, run, sf_dir, streaming=True)
    return run


# ---------------------------------------------------------------- minute reports


class ReportLoop:
    """Minute files dropped into a streaming source, one
    ``publish_minutely_reports(available_now=True)`` run per drop, and
    the report read back from an in-process ``ReportStoreServer``."""

    def __init__(self, ctx: Context, minutes: int, tag: str):
        from end2end_data_pipeline_spark.plans.report_service import ReportStoreServer

        self.ctx, self.tracer = ctx, ctx.tracer
        root = os.path.join(ctx.work, tag)
        self.stage, self.src = os.path.join(root, "stage"), os.path.join(root, "src")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.stage)
        os.makedirs(self.src)
        self.minutes = minutes
        self.files: list[str] = []
        self.minute_names: list[str] = []
        self.events_per_file: list[int] = []
        self.server = ReportStoreServer().__enter__()
        self.cycle_span: int | None = None
        self.push_s: list[float] = []
        self.push_failures = 0
        self.get_s: list[float] = []
        self.progress: list = []
        self.starts: list[float] = []
        self.drains: list[float] = []
        self.batches: list[int] = []
        self.ckpt_bytes: list[int] = []
        self.reports: dict[str, dict] = {}
        self.gen_events_per_s = 0.0

    def close(self) -> None:
        self.server.__exit__(None, None, None)

    def reset_stats(self) -> None:
        """Forget what the warm-up cycles recorded."""
        self.reports.clear()
        for stat in (self.starts, self.drains, self.batches, self.progress,
                     self.push_s, self.get_s, self.ckpt_bytes):
            stat.clear()

    def generate(self) -> None:
        """Pre-write the seeded ``generate_events`` output as one
        parquet file per minute (the load generator; untimed). Events
        come at the generator's default rate, the reference's ~100 ev/s
        producer (BASELINE.md)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from end2end_data_pipeline_spark.sources.generator import generate_events

        rate = inspect.signature(generate_events).parameters["events_per_second"].default
        n = self.minutes * 60 * rate
        t0 = time.perf_counter()
        with self.tracer.span("generator.generate_events"):
            pdf = (
                generate_events(self.ctx.engine.spark, n, seed=self.ctx.seed)
                .drop("event_minute")
                .toPandas()
            )
        self.gen_events_per_s = n / (time.perf_counter() - t0)
        schema = pa.schema(
            [
                ("event_id", pa.string()),
                ("user_id", pa.string()),
                ("session_id", pa.string()),
                ("event_type", pa.string()),
                ("event_timestamp", pa.timestamp("us", tz="UTC")),
                ("request_latency_ms", pa.int32()),
                ("status", pa.string()),
                ("error_code", pa.int32()),
                ("product_id", pa.int32()),
            ]
        )
        minute = pdf["event_timestamp"].dt.floor("min")
        for i, (m, part) in enumerate(pdf.groupby(minute, sort=True)):
            name = f"minute-{i:05d}.parquet"
            pq.write_table(
                pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                os.path.join(self.stage, name),
            )
            self.files.append(name)
            self.minute_names.append(m.strftime("%Y-%m-%d_%H-%M") + ".json")
            self.events_per_file.append(len(part))

    def _publish(self, report: dict) -> None:
        from end2end_data_pipeline_spark.plans.report_service import (
            ReportPushError,
            push_report,
        )

        t0 = time.perf_counter()
        try:
            with self.tracer.span("report_service.push", parent=self.cycle_span):
                push_report(self.server.url, report)
        except ReportPushError:
            self.push_failures += 1
            raise
        finally:
            self.push_s.append(time.perf_counter() - t0)

    def _ckpt_size(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.ckpt)
            for f in fs
        )

    def cycle(self, drop: range) -> tuple[float, bool, str]:
        """Drop the minute files in ``drop``, run the stream until it has
        drained them, and wait until ``GET /report`` serves the window
        the last drop closed. Returns (latency_s, ok, error)."""
        from end2end_data_pipeline_spark.plans.report_service import (
            ReportPushError,
            get_latest_report,
        )
        from end2end_data_pipeline_spark.streaming.pipeline import (
            publish_minutely_reports,
        )

        tr = self.tracer
        want_i = drop[-1] - REPORT_LAG
        want = self.minute_names[want_i] if want_i >= 0 else None
        before = self._ckpt_size() if tr.enabled else 0
        t0 = time.perf_counter()
        try:
            with tr.span("bench.cycle") as sid:
                self.cycle_span = sid
                for i in drop:
                    os.rename(
                        os.path.join(self.stage, self.files[i]),
                        os.path.join(self.src, self.files[i]),
                    )
                with tr.span("streaming.start"):
                    q = publish_minutely_reports(
                        self.ctx.engine.spark, self.src, self.ckpt, self._publish
                    )
                t1 = time.perf_counter()
                with tr.span("streaming.drain"):
                    q.awaitTermination()
                t2 = time.perf_counter()
                got = None
                while want is not None:
                    g0 = time.perf_counter()
                    try:
                        with tr.span("report_service.get"):
                            got = get_latest_report(self.server.url)
                    except ReportPushError:
                        got = None
                    self.get_s.append(time.perf_counter() - g0)
                    if got and got["report"].get("file_name") == want:
                        break
                    if time.perf_counter() - t2 > REPORT_TIMEOUT_S:
                        raise TimeoutError(f"report {want} not served")
                    time.sleep(0.005)
                latency = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — a failed cycle is counted
            return time.perf_counter() - t0, False, f"{type(exc).__name__}: {str(exc)[:300]}"
        if tr.enabled:
            b0 = time.perf_counter()
            self.progress.extend(q.recentProgress)
            self.ckpt_bytes.append(self._ckpt_size() - before)
            tr.bookkeeping_s += time.perf_counter() - b0
        self.starts.append(t1 - t0)
        self.drains.append(t2 - t1)
        self.batches.append(len(q.recentProgress))
        if want is not None:
            self.reports[want] = got["report"]
        return latency, True, ""

    def check(self) -> dict[str, str]:
        """Compare every served report with batch ``minutely_status_counts``
        over the same generated events."""
        from end2end_data_pipeline_spark.streaming.pipeline import (
            EVENT_SCHEMA,
            minutely_status_counts,
        )

        spark = self.ctx.engine.spark
        events = spark.read.schema(EVENT_SCHEMA).parquet(self.src)
        expect: dict[str, dict] = {}
        for r in minutely_status_counts(events).collect():
            name = r["event_minute"].strftime("%Y-%m-%d_%H-%M") + ".json"
            by_type = expect.setdefault(name, {})
            by_type.setdefault(r["event_type"], {"SUCCESS": 0, "ERROR": 0})[r["status"]] = r["n"]
        bad = {}
        for name, rep in self.reports.items():
            by_type = expect.get(name, {})
            total = sum(v["SUCCESS"] + v["ERROR"] for v in by_type.values())
            errors = sum(v["ERROR"] for v in by_type.values())
            if (
                rep["by_event_type"] != by_type
                or rep["total_events"] != total
                or rep["total_errors"] != errors
            ):
                bad[name] = f"served {rep} != batch {by_type}"
        return bad

    def layers(self, measured_events: int, measured_s: float) -> dict[str, tuple[float, str]]:
        dur = [p.durationMs for p in self.progress]
        state = [p.stateOperators[0] for p in self.progress if p.stateOperators]
        return {
            "streaming.start_s": (median(self.starts), "s"),
            "streaming.drain_s": (median(self.drains), "s"),
            "streaming.batches_per_cycle": (mean(self.batches), "count"),
            "streaming.trigger_ms": (median([d.get("triggerExecution", 0) for d in dur]), "ms"),
            "streaming.add_batch_ms": (median([d.get("addBatch", 0) for d in dur]), "ms"),
            "streaming.query_planning_ms": (
                median([d.get("queryPlanning", 0) for d in dur]),
                "ms",
            ),
            "streaming.wal_commit_ms": (median([d.get("walCommit", 0) for d in dur]), "ms"),
            "streaming.state_rows": (mean([s.numRowsTotal for s in state]), "count"),
            "streaming.state_memory_bytes": (mean([s.memoryUsedBytes for s in state]), "bytes"),
            "streaming.checkpoint_bytes_per_cycle": (mean(self.ckpt_bytes), "bytes"),
            "streaming.events_per_s": (measured_events / measured_s, "1/s"),
            "report_service.push_s": (median(self.push_s), "s"),
            "report_service.push_failures": (float(self.push_failures), "count"),
            "report_service.get_s": (median(self.get_s), "s"),
            "generator.events_per_s": (self.gen_events_per_s, "1/s"),
        }


def _streaming_probe(ctx: Context, run: Run) -> None:
    """One report cycle for workloads that do not stream: four minutes
    land at once, so the first minute's window closes and is served."""
    loop = ReportLoop(ctx, REPORT_LAG + 1, "probe_stream")
    try:
        with ctx.tracer.span("bench.probe_streaming"):
            loop.generate()
            latency, ok, err = loop.cycle(range(REPORT_LAG + 1))
        if not ok:
            raise RuntimeError(f"streaming probe failed: {err}")
        run.layers.update(loop.layers(sum(loop.events_per_file), latency))
    finally:
        loop.close()


def minute_reports(ctx: Context) -> Run:
    """The reference's loop, one minute file per cycle; the op latency
    runs from the file drop until ``GET /report`` serves the window that
    drop closed."""
    import __spark_entry__ as entry

    run = Run()
    t0 = time.perf_counter()
    ctx.start_engine("bench-minute_reports")
    get_spark_s = time.perf_counter() - t0
    # enough minutes for the warm-up plus cycles of one second (a cycle
    # takes 1.2-2 s on a 4-vCPU host; generating a minute takes ~0.2 s,
    # all of it outside setup_s); a faster loop drains them all and ends
    # the measurement early
    loop = ReportLoop(ctx, 3 + REPORT_LAG + ctx.seconds, "stream")
    try:
        loop.generate()
        t1 = time.perf_counter()
        # warm-up: fill the watermark pipeline, then two served reports
        warm = [range(0, REPORT_LAG), range(REPORT_LAG, REPORT_LAG + 1),
                range(REPORT_LAG + 1, REPORT_LAG + 2)]
        for drop in warm:
            _, ok, err = loop.cycle(drop)
            if not ok:
                raise RuntimeError(f"warm-up cycle failed: {err}")
        run.setup_s = get_spark_s + time.perf_counter() - t1
        loop.reset_stats()
        nxt = iter(range(warm[-1][-1] + 1, len(loop.files)))
        drained = 0

        def one():
            nonlocal drained
            i = next(nxt, None)
            if i is None:  # every generated minute is drained
                return None
            res = loop.cycle(range(i, i + 1))
            drained += loop.events_per_file[i]
            return ("cycle", *res)

        _loop(ctx, run, one)
        run.rss_mb, run.live_heap_mb = ctx.engine.memory_mb()
        bad = loop.check()
        for name, why in bad.items():
            run.errors.append(f"check {name}: {why}")
        run.failed += len(bad)
        if ctx.tracer.enabled:
            run.layers.update(loop.layers(drained, run.measured_s))
            sf_dir = ctx.tables()
            op = eng_mod.run_query_op(
                ctx.engine, ctx.op_id(), "event_status_pivot", sf_dir, entry.queries()
            )
            if not op.ok:
                raise RuntimeError(f"operator probe failed: {op.error}")
            run.layers.update(_operator_layers(run, [op]))
            _traced_probes(ctx, run, sf_dir, streaming=False)
    finally:
        loop.close()
    return run


WORKLOADS = {
    "dashboard_queries": dashboard_queries,
    "minute_reports": minute_reports,
}
