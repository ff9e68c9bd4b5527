"""Streaming-vs-batch parity and report-shim golden tests.

Mirrors the reference's Spark correctness strategy
(``spark/tests/test_spark.py``): a fixture with exact composition —
NUM_ERROR=3 / NUM_SUCCESS=17 per event type — so expected counts are
golden, plus the empty-input edge case."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from end2end_data_pipeline_spark.plans.report import (
    report_from_counts,
    status_pivot_report,
    with_derived_status,
)
from end2end_data_pipeline_spark.sources.generator import generate_events, write_warehouse
from end2end_data_pipeline_spark.streaming.pipeline import (
    EVENT_SCHEMA,
    minutely_status_counts,
    publish_minutely_reports,
    read_event_stream,
    start_minutely_aggregation,
)

NUM_ERROR, NUM_SUCCESS = 3, 17
EVENT_TYPES = ("VIEW_PRODUCT", "ADD_TO_CART", "CHECKOUT", "PAYMENT", "SEARCH")


@pytest.fixture(scope="module")
def golden_events(spark):
    """5 event types x (3 ERROR + 17 SUCCESS), fixed timestamp minute."""
    ts = dt.datetime(2024, 1, 1, 12, 30, 15)
    rows = []
    i = 0
    for et in EVENT_TYPES:
        for k in range(NUM_ERROR + NUM_SUCCESS):
            status = "ERROR" if k < NUM_ERROR else "SUCCESS"
            rows.append(
                (
                    f"e{i}",
                    f"u{i % 7}",
                    f"s{i % 11}",
                    et,
                    ts,
                    50,
                    status,
                    500 if status == "ERROR" else None,
                    None,
                )
            )
            i += 1
    return spark.createDataFrame(rows, EVENT_SCHEMA)


def test_report_golden(golden_events):
    report = status_pivot_report(golden_events, "2024-01-01_12-30.json")["report"]
    assert report["total_events"] == 5 * 20
    assert report["total_errors"] == 5 * NUM_ERROR
    assert report["by_event_type"] == {
        et: {"SUCCESS": NUM_SUCCESS, "ERROR": NUM_ERROR} for et in EVENT_TYPES
    }
    assert report["file_name"] == "2024-01-01_12-30.json"


def test_report_no_data(spark, golden_events):
    empty = golden_events.limit(0)
    out = status_pivot_report(empty, "2024-01-01_12-31.json")
    assert out == {"report": "No data for 2024-01-01_12-31."}


def test_report_from_counts_shapes():
    """The one report builder: golden data shape with totals derived
    from the per-type counts, and the no-data variant for no counts."""
    by_type = {"ADD_TO_CART": {"SUCCESS": 4, "ERROR": 0}, "REFUND": {"SUCCESS": 0, "ERROR": 2}}
    assert report_from_counts(by_type, "2024-01-01_12-30.json", 0.1234567) == {
        "report": {
            "total_events": 6,
            "total_errors": 2,
            "by_event_type": by_type,
            "process_time": 0.12346,
            "file_name": "2024-01-01_12-30.json",
        }
    }
    assert report_from_counts({}, "2024-01-01_12-31.json", 0.5) == {
        "report": "No data for 2024-01-01_12-31."
    }


def _assert_golden_shape(report: dict, golden_events) -> None:
    """A streamed report has the batch report's keys, process_time
    included (the reference's golden shape)."""
    golden = status_pivot_report(golden_events, "2024-01-01_12-30.json")["report"]
    assert report.keys() == golden.keys()
    assert isinstance(report["process_time"], float)
    assert report["process_time"] >= 0


@pytest.fixture(scope="module")
def events_with_tail(spark, golden_events):
    """Golden minute plus tail events 5 minutes later: in append mode a
    window is emitted only once the watermark passes it, so the tail
    advances the watermark beyond the golden window (the reference's
    cron DAG needed the NEXT minute's scheduler tick for the same
    reason — T1/T3)."""
    ts_tail = dt.datetime(2024, 1, 1, 12, 35, 0)
    tail = spark.createDataFrame(
        [
            (f"t{i}", "u0", "s0", "SEARCH", ts_tail, 50, "SUCCESS", None, None)
            for i in range(5)
        ],
        EVENT_SCHEMA,
    )
    return golden_events.union(tail)


def test_stream_matches_batch(spark, tmp_path, events_with_tail):
    """availableNow stream over a parquet source must produce exactly
    the batch answer for every CLOSED window (append + watermark)."""
    src = str(tmp_path / "events_src")
    sink = str(tmp_path / "agg_sink")
    ckpt = str(tmp_path / "ckpt")
    events_with_tail.write.parquet(src)

    q = start_minutely_aggregation(spark, src, sink, ckpt)
    q.awaitTermination(120)

    streamed = spark.read.parquet(sink)
    closed = dt.datetime(2024, 1, 1, 12, 30)
    batch = minutely_status_counts(
        spark.read.schema(EVENT_SCHEMA).parquet(src)
    ).where(F.col("event_minute") == closed)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    # golden check: the closed minute has 5 types x 2 statuses
    assert streamed.count() == 10
    err = streamed.where(F.col("status") == "ERROR").agg(F.sum("n")).first()[0]
    assert err == 5 * NUM_ERROR


def test_stream_resumes_from_checkpoint(spark, tmp_path, events_with_tail):
    """Second availableNow run over the same checkpoint must be a no-op
    (exactly-once per sink file)."""
    src = str(tmp_path / "events_src2")
    sink = str(tmp_path / "agg_sink2")
    ckpt = str(tmp_path / "ckpt2")
    events_with_tail.write.parquet(src)

    start_minutely_aggregation(spark, src, sink, ckpt).awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    start_minutely_aggregation(spark, src, sink, ckpt).awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 == 10


MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_checkpoint_writes_go_through_hadoop_filesystem(spark, tmp_path):
    """The session writes checkpoints through Hadoop FileSystem (no
    readlink/chmod process per file without libhadoop), and keeps the
    metadata log's one-writer-per-batch guard: a second no-overwrite
    write of a batch file fails and leaves the first writer's bytes."""
    jvm = spark._jvm
    ckpt = str(tmp_path / "ckpt_mgr")
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    manager = getattr(jvm, CHECKPOINTING + "CheckpointFileManager").create(
        hadoop_path(ckpt), spark._jsparkSession.sessionState().newHadoopConf()
    )
    assert manager.getClass().getName() == CHECKPOINTING + "FileSystemBasedCheckpointFileManager"

    batch_file = hadoop_path(ckpt + "/offsets/0")
    first = manager.createAtomic(batch_file, False)
    first.write(bytearray(b"v1\nfirst writer"))
    first.close()
    second = manager.createAtomic(batch_file, False)
    second.write(bytearray(b"v1\nsecond writer"))
    with pytest.raises(Exception, match="already exists"):
        second.close()
    with open(os.path.join(ckpt, "offsets", "0"), "rb") as f:
        assert f.read() == b"v1\nfirst writer"


def test_stream_resumes_checkpoint_written_through_filecontext(spark, tmp_path, events_with_tail):
    """A checkpoint written under Spark's default FileContext manager
    (the engine's manager before it switched to FileSystem) resumes
    under the engine default: offsets, the file-source log and the
    open window's state carry over, and the sink equals the batch
    answer over both files. The checkpoint keeps Hadoop's .crc files
    and Spark's state .delta.crc checksums."""
    src = str(tmp_path / "events_src3")
    sink = str(tmp_path / "agg_sink3")
    ckpt = str(tmp_path / "ckpt3")
    # file A: the golden 12:30 minute plus 5 SEARCH events at 12:35,
    # whose window stays open in the state store after phase 1
    events_with_tail.write.parquet(src)
    engine_manager = spark.conf.get(MANAGER_CONF)
    spark.conf.set(MANAGER_CONF, CHECKPOINTING + "FileContextBasedCheckpointFileManager")
    try:
        start_minutely_aggregation(spark, src, sink, ckpt).awaitTermination(120)
    finally:  # restore get_spark's value; an unset would drop it
        spark.conf.set(MANAGER_CONF, engine_manager)
    assert spark.read.parquet(sink).count() == 10  # 12:30 closed, 12:35 in state

    # file B: more of the open 12:35 window, a 12:36 minute, and a tail
    # that closes both
    later = [(dt.datetime(2024, 1, 1, 12, 35, 30), "SEARCH", "ERROR"),
             (dt.datetime(2024, 1, 1, 12, 35, 40), "CHECKOUT", "SUCCESS"),
             (dt.datetime(2024, 1, 1, 12, 36, 10), "SEARCH", "SUCCESS"),
             (dt.datetime(2024, 1, 1, 12, 40, 0), "SEARCH", "SUCCESS")]
    spark.createDataFrame(
        [(f"b{i}", "u1", "s1", et, ts, 50, st, 500 if st == "ERROR" else None, None)
         for i, (ts, et, st) in enumerate(later)],
        EVENT_SCHEMA,
    ).write.mode("append").parquet(src)
    start_minutely_aggregation(spark, src, sink, ckpt).awaitTermination(120)

    batch = minutely_status_counts(spark.read.schema(EVENT_SCHEMA).parquet(src)).where(
        F.col("event_minute") < dt.datetime(2024, 1, 1, 12, 40)
    )
    streamed = sorted(map(tuple, spark.read.parquet(sink).collect()))
    assert streamed == sorted(map(tuple, batch.collect()))
    assert (dt.datetime(2024, 1, 1, 12, 35), "SEARCH", "SUCCESS", 5) in streamed

    files = [os.path.join(d, f) for d, _, fs in os.walk(ckpt) for f in fs]
    for log in ("offsets", "commits", "sources"):
        assert any(f.endswith(".crc") and f"{os.sep}{log}{os.sep}" in f for f in files), log
    state = [os.path.basename(f) for f in files if f"{os.sep}state{os.sep}" in f]
    assert any(f.endswith(".delta") for f in state)
    # Hadoop's checksum of 1.delta is .1.delta.crc; Spark's is 1.delta.crc
    assert any(f.startswith(".") and f.endswith(".delta.crc") for f in state)
    assert any(not f.startswith(".") and f.endswith(".delta.crc") for f in state)


def test_generator_warehouse_roundtrip(spark, tmp_path):
    """Generate -> partitioned warehouse write -> partition-pruned read
    (the reference's MergeTree partition-pruning contract, S7/S8/P2)."""
    path = str(tmp_path / "warehouse")
    df = generate_events(spark, 1_000, seed=5, events_per_second=10)
    write_warehouse(df, path)

    back = spark.read.parquet(path)
    assert back.count() == 1_000

    one_minute = back.where(
        F.col("event_minute") == dt.datetime(2024, 1, 1, 0, 0, 0)
    )
    plan = one_minute._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or one_minute.count() > 0
    # 10 ev/s -> first minute holds exactly 600 events
    assert one_minute.count() == 600


def test_stream_report_shim(spark, tmp_path, golden_events):
    """Derived-status adapter + report over the driver events table
    shape (value-based error predicate)."""
    derived = with_derived_status(
        golden_events.drop("status"), F.col("error_code").isNotNull()
    )
    report = status_pivot_report(derived, "x.json")["report"]
    assert report["total_errors"] == 5 * NUM_ERROR


def test_stream_rate_generator_shapes(spark):
    """Rate-source streaming generator produces the canonical event
    schema with value-domain invariants (S1/S2 streaming form)."""
    from end2end_data_pipeline_spark.sources.generator import stream_events

    stream = stream_events(spark, rows_per_second=200)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("gen_stream")
        .outputMode("append")
        .start()
    )
    try:
        import time as _t

        for _ in range(60):
            if spark.table("gen_stream").count() >= 50:
                break
            _t.sleep(0.5)
        rows = spark.table("gen_stream").limit(200).collect()
    finally:
        q.stop()
    assert len(rows) >= 50
    for r in rows:
        assert r.status in ("SUCCESS", "ERROR")
        assert 50 <= r.request_latency_ms <= 1500
        assert (r.error_code is not None) == (r.status == "ERROR")
        if r.product_id is not None:
            assert r.event_type in ("VIEW_PRODUCT", "ADD_TO_CART")


def test_publish_minutely_reports(spark, tmp_path, golden_events, events_with_tail):
    """foreachBatch publisher emits the reference report shape exactly
    once for the closed golden minute (S13 analog)."""
    src = str(tmp_path / "pub_src")
    ckpt = str(tmp_path / "pub_ckpt")
    events_with_tail.write.parquet(src)

    published: list[dict] = []
    q = publish_minutely_reports(spark, src, ckpt, published.append)
    q.awaitTermination(120)

    assert len(published) == 1
    rep = published[0]["report"]
    assert rep["file_name"] == "2024-01-01_12-30.json"
    assert rep["total_events"] == 100
    assert rep["total_errors"] == 15
    assert rep["by_event_type"]["SEARCH"] == {"SUCCESS": 17, "ERROR": 3}
    _assert_golden_shape(rep, golden_events)


MULTI_MINUTES = [dt.datetime(2024, 1, 1, 12, 30 + m) for m in range(3)]


@pytest.fixture(scope="module")
def multi_window_run(spark, tmp_path_factory):
    """Three consecutive minutes with different compositions (REFUND has
    only ERROR rows) plus a tail 6 minutes on: the data batch reads them
    all and the no-data batch that follows closes all three windows at
    once. Returns (source path, published reports, micro-batches, Spark
    job ids the query started)."""
    rows = []
    for m, minute in enumerate(MULTI_MINUTES):
        counts = {"SEARCH": (m + 1, 2), "CHECKOUT": (0, m + 3), "REFUND": (m + 2, 0)}
        for et, (n_err, n_ok) in counts.items():
            for k in range(n_err + n_ok):
                status = "ERROR" if k < n_err else "SUCCESS"
                ts = minute + dt.timedelta(seconds=k)
                rows.append((f"m{m}-{et}-{k}", "u0", "s0", et, ts, 50, status,
                             500 if status == "ERROR" else None, None))
    tail = MULTI_MINUTES[-1] + dt.timedelta(minutes=6)
    rows.append(("tail", "u0", "s0", "SEARCH", tail, 50, "SUCCESS", None, None))
    root = tmp_path_factory.mktemp("multi_window")
    src = str(root / "src")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(src)

    published: list[dict] = []
    q = publish_minutely_reports(spark, src, str(root / "ckpt"), published.append)
    q.awaitTermination(120)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    return src, published, len(q.recentProgress), jobs


def test_publish_closes_several_windows_in_one_batch(spark, multi_window_run):
    """One micro-batch closing several windows publishes each exactly
    once, in minute order, each equal to the batch report of its minute
    (zero-filled SUCCESS for the ERROR-only type) apart from process_time."""
    src, published, n_batches, _ = multi_window_run
    names = [p["report"]["file_name"] for p in published]
    assert names == [m.strftime("%Y-%m-%d_%H-%M") + ".json" for m in MULTI_MINUTES]
    assert n_batches < len(published)  # some batch closed several windows

    events = spark.read.schema(EVENT_SCHEMA).parquet(src)
    for minute, streamed in zip(MULTI_MINUTES, published):
        batch = status_pivot_report(
            events.where(F.date_trunc("minute", "event_timestamp") == minute),
            minute.strftime("%Y-%m-%d_%H-%M") + ".json",
        )
        streamed, batch = streamed["report"], batch["report"]
        assert streamed.pop("process_time") >= 0
        batch.pop("process_time")
        assert streamed == batch
        assert list(streamed["by_event_type"]) == list(batch["by_event_type"])
    assert published[0]["report"]["by_event_type"]["REFUND"] == {"SUCCESS": 0, "ERROR": 2}


def test_publisher_runs_one_action_per_batch(multi_window_run):
    """Every Spark action on a foreachBatch frame re-executes the
    micro-batch, so the publisher must start exactly one job per
    micro-batch (the stream runs its batches under the query's runId
    job group)."""
    _, _, n_batches, jobs = multi_window_run
    assert len(jobs) == n_batches


def test_sessionized_counts_stream(spark, tmp_path, events_with_tail):
    """session_window aggregation runs as a stream and matches its own
    batch answer for watermark-closed sessions (T6 streaming form)."""
    from end2end_data_pipeline_spark.streaming.pipeline import sessionized_counts

    src = str(tmp_path / "sess_src")
    events_with_tail.write.parquet(src)
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        sessionized_counts(stream, gap="1 minute")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.session_start, r.user_id, r.n_events)
        for r in spark.table("sessions").collect()
    }
    # the golden minute (12:30) closes once the 12:35 tail passes the
    # 2-minute watermark; the tail's own session stays open and unemitted
    batch_closed = {
        (r.session_start, r.user_id, r.n_events)
        for r in sessionized_counts(
            spark.read.schema(EVENT_SCHEMA).parquet(src), gap="1 minute"
        ).collect()
        if r.session_start.minute == 30
    }
    assert streamed == batch_closed
    assert len(streamed) > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """T3: an event arriving AFTER its window's watermark has passed is
    excluded from the (already-emitted) window — the reference dropped
    such rows silently; here the behavior is explicit and bounded."""
    src = tmp_path / "late_src"
    src.mkdir()
    import os
    import time as _time

    batches = [
        # b0: the 12:00 window opens
        [("a1", dt.datetime(2024, 1, 1, 12, 0, 10))],
        # b1: event at 12:10 computes watermark 12:08 (applied one
        # batch later — Spark advances the watermark at batch END)
        [("a2", dt.datetime(2024, 1, 1, 12, 10, 0))],
        # b2: spacer so the 12:08 watermark is in force for b3
        [("a4", dt.datetime(2024, 1, 1, 12, 11, 0))],
        # b3: event-time 12:00:20 arrives after the watermark passed 12:01
        [("a3", dt.datetime(2024, 1, 1, 12, 0, 20))],
    ]
    now = _time.time()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(eid, "u1", "s1", "SEARCH", ts, 50, "SUCCESS", None, None) for eid, ts in rows],
            EVENT_SCHEMA,
        )
        d = str(src / f"b{i}")
        df.coalesce(1).write.parquet(d)
        # the file source orders by modification time: force the arrival order
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (now + 10 * i, now + 10 * i))

    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        minutely_status_counts(stream)
        .writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r.event_minute, r.n) for r in spark.table("late_agg").collect()
    }
    # the 12:00 window was finalized with ONE event; the late a3 was
    # dropped (the 12:10/12:11 windows are still open, so not emitted)
    assert rows == {(dt.datetime(2024, 1, 1, 12, 0), 1)}


def test_stream_replay_query_uses_streaming_engine(spark):
    """``minute_counts_stream_replay`` must be the REAL streaming path,
    not a batch shortcut: its first call registers a memory-sink table
    produced by a completed StreamingQuery (checkpoint on disk),
    repeat calls reuse that sink instead of re-running the stream, and
    a call after the sink table was dropped drains a new one."""
    import os

    from end2end_data_pipeline_spark.operators import warehouse_ops
    from end2end_data_pipeline_spark.sources import tables

    sf = "/root/testdata/sf0.001"
    df1 = warehouse_ops.minute_counts_stream_replay(spark, sf)
    key = tables.frame_memo_tag(sf, "minute_counts_stream_replay")
    table = tables._app_state(spark).entries.get(key)
    assert table and spark.catalog.tableExists(table)
    ckpt = tables.session_scratch(spark, table)
    # a streaming checkpoint (offsets/commits) proves engine execution
    assert os.path.isdir(os.path.join(ckpt, "offsets"))
    assert os.listdir(os.path.join(ckpt, "commits"))
    # memoized: second call returns the same sink without a new table
    df2 = warehouse_ops.minute_counts_stream_replay(spark, sf)
    assert tables._app_state(spark).entries[key] == table
    rows = df1.collect()
    assert df2.collect() == rows
    # a dropped sink table is drained again into a new one
    spark.catalog.dropTempView(table)
    df3 = warehouse_ops.minute_counts_stream_replay(spark, sf)
    redrained = tables._app_state(spark).entries[key]
    assert redrained != table and spark.catalog.tableExists(redrained)
    assert df3.collect() == rows


def test_avro_framed_stream_matches_batch(spark, tmp_path, events_with_tail):
    """The S5 Kafka->warehouse analog with the REAL serde in the loop:
    events are Confluent-framed Avro binary at rest (avro_min, the
    degraded-path serde of sources/connectors.py), decoded INSIDE the
    streaming query by Arrow-batched mapInPandas, then windowed. The
    closed-window answer must equal the plain batch pipeline's — so the
    serde hop is provably lossless under the streaming engine too."""
    from end2end_data_pipeline_spark.sources.connectors import (
        decode_events_avro_py,
        encode_events_avro_py,
    )

    frames_dir = str(tmp_path / "avro_frames")
    sink = str(tmp_path / "avro_agg_sink")
    ckpt = str(tmp_path / "avro_ckpt")
    encode_events_avro_py(events_with_tail).write.parquet(frames_dir)

    frame_stream = (
        spark.readStream.schema("key string, value binary").parquet(frames_dir)
    )
    decoded = decode_events_avro_py(frame_stream)
    assert decoded.isStreaming
    q = (
        minutely_status_counts(decoded)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    closed = dt.datetime(2024, 1, 1, 12, 30)
    batch = minutely_status_counts(events_with_tail).where(
        F.col("event_minute") == closed
    )
    streamed = spark.read.parquet(sink)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )
    assert streamed.count() == 10


def test_avro_stream_dead_letters_corrupt_frames(spark, tmp_path, golden_events):
    """A poisoned topic partition must not kill the stream: corrupt
    payloads land in the quarantine columns of the same microbatch
    while every valid frame still aggregates."""
    from end2end_data_pipeline_spark.sources.connectors import (
        decode_events_avro_dlq,
        encode_events_avro_py,
    )

    frames_dir = str(tmp_path / "frames")
    sink = str(tmp_path / "dlq_sink")
    ckpt = str(tmp_path / "ckpt")
    encode_events_avro_py(golden_events).write.parquet(frames_dir)
    spark.createDataFrame(
        [("poison", b"\x00\x00\x00\x00\x01garbage"), ("poison", b"\xff")],
        "key string, value binary",
    ).write.mode("append").parquet(frames_dir)

    stream = spark.readStream.schema("key string, value binary").parquet(frames_dir)
    q = (
        decode_events_avro_dlq(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    landed = spark.read.parquet(sink)
    good = landed.where(F.col("corrupt_payload").isNull())
    bad = landed.where(F.col("corrupt_payload").isNotNull())
    assert good.count() == golden_events.count()
    assert bad.count() == 2
    assert {r.corrupt_reason.split(":")[0] for r in bad.collect()} == {"ValueError"}


def test_stream_to_dashboard_end_to_end(spark, tmp_path, golden_events, events_with_tail):
    """The reference's whole report loop in one process (S13+S14):
    streaming minutely aggregation publishes through real HTTP into
    the latest-report store, and the consumer GET sees the exact
    closed-minute report."""
    from end2end_data_pipeline_spark.plans.report_service import (
        ReportStoreServer,
        get_latest_report,
        make_report_publisher,
    )

    src = str(tmp_path / "dash_src")
    ckpt = str(tmp_path / "dash_ckpt")
    events_with_tail.write.parquet(src)

    with ReportStoreServer() as srv:
        q = publish_minutely_reports(
            spark, src, ckpt, make_report_publisher(srv.url)
        )
        q.awaitTermination(120)
        rep = get_latest_report(srv.url)["report"]
    assert rep["file_name"] == "2024-01-01_12-30.json"
    assert rep["total_events"] == 100
    assert rep["total_errors"] == 15
    assert rep["by_event_type"]["SEARCH"] == {"SUCCESS": 17, "ERROR": 3}
    _assert_golden_shape(rep, golden_events)
