"""The session gap has one definition: every gap-sessionized query
reads ``event_analytics.SESSION_GAP_MINUTES`` when it is built, so
changing the constant changes all of their results, not some."""

from __future__ import annotations

import __spark_entry__ as entrymod
from end2end_data_pipeline_spark.operators import event_analytics

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
