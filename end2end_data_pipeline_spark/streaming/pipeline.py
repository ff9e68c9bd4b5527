"""Structured Streaming ingest + minutely analytics — the native
replacement for the reference's Kafka -> Kafka Connect -> ClickHouse ->
minutely Airflow DAG topology (SURVEY.md §2.7, §3).

The reference implements streaming as micro-batch-by-scheduler: a cron
DAG closes a 1-minute tumbling window one minute after the fact and a
row arriving later than that is silently never analyzed (T3 — its
late-data hole). Here the same semantics are one always-on query:

    file/kafka source -> withWatermark -> window(1 min) agg ->
    sink (parquet/memory), checkpointed

with late data handled by the watermark instead of a race, and
exactly-once-per-sink guaranteed by checkpoint + idempotent sink (T7
— the reference is only at-least-once into ClickHouse). The checkpoint
relies on an atomic temp-file rename: each offset, commit and
state-store file is written to a temp file and renamed into place,
and a no-overwrite rename onto an existing batch file fails, so one
writer owns each batch (``session.get_spark`` picks the Hadoop
``FileSystem`` checkpoint manager for this).

Both queries below run with ``trigger(availableNow=True)``: each start
drains what has landed and stops, once per dropped file in the
reference's cron rhythm (T4), and gives deterministic runs for tests
and batch parity checks. The query itself is trigger-independent.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Canonical event schema (SURVEY.md §1.2) — file streams require an
# explicit schema; this is the engine's single source of truth.
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", StringType(), False),
        StructField("user_id", StringType(), False),
        StructField("session_id", StringType(), False),
        StructField("event_type", StringType(), False),
        StructField("event_timestamp", TimestampType(), False),
        StructField("request_latency_ms", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("error_code", IntegerType(), True),
        StructField("product_id", IntegerType(), True),
    ]
)

DEFAULT_WATERMARK = "2 minutes"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (the Kafka-topic analog; swapping in
    ``format('kafka')`` + ``from_avro`` changes only this function).
    ``maxFilesPerTrigger`` is the backpressure knob (T8 — the
    reference's producer poll/backoff)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def minutely_status_counts(
    events: DataFrame, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """The reference's minutely analysis as an event-time windowed
    aggregation (T1/T2): counts per (minute window, event_type,
    status). Works identically on batch and streaming DataFrames —
    the batch form is the oracle for the streaming form."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("event_timestamp", watermark)
    return (
        src.groupBy(
            F.window("event_timestamp", "1 minute").alias("w"),
            "event_type",
            "status",
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("event_minute"),
            "event_type",
            "status",
            "n",
        )
    )


def start_minutely_aggregation(
    spark: SparkSession,
    source_path: str,
    sink_path: str,
    checkpoint_path: str,
    watermark: str = DEFAULT_WATERMARK,
) -> StreamingQuery:
    """End-to-end ingest->aggregate->sink stream with exactly-once
    sink semantics via checkpointing. Append output mode: a window is
    emitted once, when the watermark passes it — the streaming
    equivalent of the reference's close-the-minute-then-extract."""
    events = read_event_stream(spark, source_path)
    agg = minutely_status_counts(events, watermark)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def sessionized_counts(events: DataFrame, gap: str | None = None) -> DataFrame:
    """Session-window analytics over the stream (T6): per-user session
    event counts with a gap-based session definition — the analysis the
    reference's data supports but its pipeline never runs. ``gap``
    defaults to ``event_analytics.SESSION_GAP_MINUTES``, read at call
    time, the gap every batch sessionized query uses."""
    if gap is None:
        from end2end_data_pipeline_spark.operators import event_analytics

        gap = f"{event_analytics.SESSION_GAP_MINUTES} minutes"
    src = events
    if events.isStreaming:
        src = events.withWatermark("event_timestamp", DEFAULT_WATERMARK)
    return (
        src.groupBy(F.session_window("event_timestamp", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def publish_minutely_reports(
    spark: SparkSession,
    source_path: str,
    checkpoint_path: str,
    publish,
    watermark: str = DEFAULT_WATERMARK,
) -> StreamingQuery:
    """The reference's report loop — aggregate the closed minute, build
    the JSON report, POST it (``airflow/dags/pipeline.py:205-245``) —
    as ONE streaming query with a ``foreachBatch`` publisher.

    Append mode + watermark means each micro-batch delivers only
    finalized windows; ``publish(report_dict)`` is invoked once per
    closed minute, in minute order, with the reference's exact report
    shape. The publisher runs ONE Spark action per micro-batch: every
    action on a ``foreachBatch`` frame re-executes the micro-batch
    (source scan + state-store aggregation), so it collects the
    frame's windows x types x statuses counts once and builds every
    window's report on the driver through ``report_from_counts``, the
    builder the batch path uses too. ``process_time`` is that
    collect's duration, shared by the windows it closed. The
    callback is the REST/object-store boundary (out of engine scope) —
    tests pass a list-appender, production passes ``requests.post``.
    Exactly-once: foreachBatch replays are keyed by batch id in the
    checkpoint; a publisher needing strict idempotence can dedupe on
    ``file_name``.
    """
    from end2end_data_pipeline_spark.plans.report import report_from_counts

    events = read_event_stream(spark, source_path)
    agg = minutely_status_counts(events, watermark)

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        windows: dict = {}
        for r in batch_df.collect():
            by_type = windows.setdefault(r["event_minute"], {})
            counts = by_type.setdefault(r["event_type"], {"SUCCESS": 0, "ERROR": 0})
            # the reference pivots on exactly these two statuses
            if r["status"] in counts:
                counts[r["status"]] = r["n"]
        process_time = time.perf_counter() - t0
        for minute, by_type in sorted(windows.items()):
            publish(
                report_from_counts(
                    {t: by_type[t] for t in sorted(by_type)},
                    minute.strftime("%Y-%m-%d_%H-%M") + ".json",
                    process_time,
                )
            )

    return (
        agg.writeStream.outputMode("append")
        .foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
