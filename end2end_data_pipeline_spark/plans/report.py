"""Report shim — the reference's JSON analysis report reproduced from
engine DataFrames (``airflow/dags/spark.py:23-46,86-97``; golden shape
``airflow/tests/common.py:23-37``):

    {"report": {"total_events": int, "total_errors": int,
                "by_event_type": {type: {"SUCCESS": n, "ERROR": n}},
                "process_time": float, "file_name": str}}

No-data variant: {"report": "No data for <ts>."} (spark.py:71).

The DataFrame is the engine-level result; this dict is presentation.
One builder, ``report_from_counts``, produces every report: the batch
pivot (``status_pivot_report``, also behind ``plans/etar.py``) and the
streaming publisher (``streaming/pipeline.py:publish_minutely_reports``,
one Spark action per micro-batch) both hand it per-type counts. The
only driver-side collection is O(#windows x #event_types) — never rows.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def report_from_counts(
    by_type: dict[str, dict[str, int]], file_name: str, process_time: float
) -> dict[str, Any]:
    """The reference's report dict from per-type counts
    ``{event_type: {"SUCCESS": n, "ERROR": n}}`` (in the order the
    report lists them); empty counts give the no-data variant.
    ``process_time`` is the seconds the caller spent computing them."""
    if not by_type:
        return {"report": f"No data for {file_name.rsplit('.', 1)[0]}."}
    return {
        "report": {
            "total_events": sum(v["SUCCESS"] + v["ERROR"] for v in by_type.values()),
            "total_errors": sum(v["ERROR"] for v in by_type.values()),
            "by_event_type": by_type,
            "process_time": round(process_time, 5),
            "file_name": file_name,
        }
    }


def status_pivot_report(
    events: DataFrame, file_name: str = "report.json"
) -> dict[str, Any]:
    """Build the reference's report dict from an events DataFrame that
    has ``event_type`` and ``status`` columns. One aggregation action:
    totals derive from the pivoted matrix instead of a second scan
    (the reference runs count() + agg over a cached scan —
    spark.py:24-34; computing totals from the O(k) pivot result is
    strictly cheaper)."""
    t0 = time.perf_counter()
    rows = (
        events.groupBy("event_type")
        .pivot("status", ["ERROR", "SUCCESS"])
        .count()
        .na.fill(0, ["ERROR", "SUCCESS"])
        .orderBy("event_type")
        .collect()
    )
    by_type = {
        r["event_type"]: {"SUCCESS": r["SUCCESS"], "ERROR": r["ERROR"]} for r in rows
    }
    return report_from_counts(by_type, file_name, time.perf_counter() - t0)


def with_derived_status(events: DataFrame, error_when: F.Column) -> DataFrame:
    """Adapter for tables without a status column: derive
    SUCCESS/ERROR from a caller-supplied predicate."""
    return events.withColumn(
        "status", F.when(error_when, "ERROR").otherwise("SUCCESS")
    )
