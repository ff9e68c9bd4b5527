"""The session gap has one definition: every gap-sessionized query
reads ``event_analytics.SESSION_GAP_MINUTES`` when it is built, so
changing the constant changes all of their results, not some. The
streamed sessions of ``streaming/pipeline.sessionized_counts`` follow
the same constant when no gap is passed."""

from __future__ import annotations

import datetime as dt

import __spark_entry__ as entrymod
from end2end_data_pipeline_spark.operators import event_analytics
from end2end_data_pipeline_spark.streaming.pipeline import EVENT_SCHEMA, sessionized_counts

SF = "/root/testdata/sf0.001"

SESSIONIZED = [
    "event_sessionization",
    "session_top_paths",
    "sessions_markov_transitions",
    "session_concurrency_timeline",
    "session_bounce_rate_daily",
]


def _rows(spark, name):
    rows = entrymod.queries()[name](spark, SF).collect()
    return sorted((tuple(r) for r in rows), key=repr)


def test_every_sessionized_query_follows_the_one_gap(spark, monkeypatch):
    at_30 = {name: _rows(spark, name) for name in SESSIONIZED}
    monkeypatch.setattr(event_analytics, "SESSION_GAP_MINUTES", 1)
    unchanged = [name for name in SESSIONIZED if _rows(spark, name) == at_30[name]]
    assert not unchanged, f"ignore SESSION_GAP_MINUTES: {unchanged}"


def _streamed_sessions(spark, src, name):
    """The sessions an availableNow stream over ``src`` emits in append
    mode, with the default gap."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    q = (
        sessionized_counts(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted((r.session_start, r.n_events) for r in spark.table(name).collect())


def test_streamed_sessions_follow_the_one_gap(spark, tmp_path, monkeypatch):
    # one user's events 5 minutes apart, then a tail an hour later that
    # moves the watermark past every session of the first three
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    offsets = [0, 5, 10, 70]
    rows = [
        (f"e{i}", "u0", "s0", "SEARCH", t0 + dt.timedelta(minutes=m), 50, "SUCCESS", None, None)
        for i, m in enumerate(offsets)
    ]
    src = str(tmp_path / "gap_src")
    spark.createDataFrame(rows, EVENT_SCHEMA).write.parquet(src)

    assert _streamed_sessions(spark, src, "gap_sessions_default") == [(t0, 3)]
    monkeypatch.setattr(event_analytics, "SESSION_GAP_MINUTES", 1)
    assert _streamed_sessions(spark, src, "gap_sessions_one_minute") == [
        (t0 + dt.timedelta(minutes=m), 1) for m in offsets[:3]
    ]
