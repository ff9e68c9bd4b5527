"""Event analytics — the reference pipeline's analytical core, rebuilt
as declarative DataFrame queries over the ``events`` table.

Reference analog: ``airflow/dags/spark.py:17-46`` (cached scan →
groupBy × status-pivot × count → fillna(0) → orderBy) plus the minutely
window keyed on the materialized ``event_minute`` column
(``db/clickhouse_table_schema.sql:15``, ``airflow/dags/pipeline.py:130-135``).

The driver ``events`` table has no ``status`` column; the reference's
SUCCESS/ERROR dimension is derived from the JSON ``props.k`` field
(k < 25 → ERROR, ~25% error rate, matching the reference generator's
U(0, 0.5) error-probability draw — ``producer/producer.py:33-34``).

Scale notes (100 TB posture):
- every query is a single scan → partial agg → shuffle on the group
  keys → final agg; no driver-side loops, no UDFs;
- pivots pass explicit value lists so Spark skips the extra
  distinct-values job (the reference does the same —
  ``airflow/dags/spark.py:29``);
- the sessionization query shuffles once on ``user_id`` and computes
  both the lag window and the aggregation within that partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    session_cached,
)

# Error classification threshold on props.k (uniform 0..99 → ~25% errors).
ERROR_K_THRESHOLD = 25

# Gap that closes a session (reference sessions rotate with p=0.01 per
# event — producer/producer.py:118-121; here gap-based, the standard
# event-analytics definition, expressible both in Spark and ANSI SQL).
SESSION_GAP_MINUTES = 30


def _sessionized(events: DataFrame) -> DataFrame:
    """``events`` plus the gap sessionizer's columns: ``new_session``
    is 1 where the user's previous event, in (ts, event_id) order, is
    absent or more than ``SESSION_GAP_MINUTES`` back, and ``sid`` is
    the running count of those starts, the user's session index. The
    lag and the running sum share one user_id partitioning. The running
    sum keeps Spark's default RANGE frame, which equals a ROWS frame
    because event_id is unique. The gap is read at call time, so every
    sessionized query follows the one constant."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    new_session = F.when(
        gap.isNull() | (gap > SESSION_GAP_MINUTES * 60), F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn("new_session", new_session).withColumn(
        "sid", F.sum("new_session").over(w)
    )


def _minute_spine(events: DataFrame) -> DataFrame:
    """(m): every minute from the first event's minute to the last
    event's, exploded from a one-row min/max aggregate (a year is only
    ~526k minutes)."""
    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("tmin"),
        F.date_trunc("minute", F.max("ts")).alias("tmax"),
    )
    return bounds.select(
        F.explode(
            F.sequence("tmin", "tmax", F.expr("INTERVAL 1 MINUTE"))
        ).alias("m")
    )


def _first_view_purchase(events: DataFrame) -> DataFrame:
    """(user_id, first_view_ms, first_purchase_ms): each user's first
    view and first purchase in epoch ms (NULL when absent), one
    conditional-min aggregate on user_id."""
    return events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_millis("ts"))
        ).alias("first_view_ms"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_millis("ts"))
        ).alias("first_purchase_ms"),
    )


def with_status(events: DataFrame) -> DataFrame:
    """Derive the SUCCESS/ERROR status dimension from props.k (F8/P4)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.withColumn(
        "status",
        F.when(k < ERROR_K_THRESHOLD, F.lit("ERROR")).otherwise(F.lit("SUCCESS")),
    )


_STATUS_SQL = f"""CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) < {ERROR_K_THRESHOLD}
        THEN 'ERROR' ELSE 'SUCCESS' END"""


def status_pivot(events: DataFrame) -> DataFrame:
    """The reference's flagship aggregation (spark.py:27-32): per-type
    SUCCESS/ERROR count matrix, explicit pivot values, fillna(0)."""
    return (
        with_status(events)
        .groupBy("event_type")
        .pivot("status", ["ERROR", "SUCCESS"])
        .count()
        .na.fill(0, ["ERROR", "SUCCESS"])
        .orderBy("event_type")
    )


@query(
    "event_status_pivot",
    oracle=f"""
    SELECT event_type,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'ERROR')   AS ERROR,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'SUCCESS') AS SUCCESS
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def event_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: the reference pipeline's entire Spark analysis
    (``airflow/dags/spark.py:27-32``) — per-event-type SUCCESS/ERROR
    count matrix with explicit pivot values and fillna(0). Baseline to
    beat: 22.16 s on the reference's 2x2-core cluster for ~5.8k rows
    (BASELINE.md); this plan runs the same shape in ~1.3 s at sf0.1.

    Scale: one scan -> map-side partial pivot-agg -> one shuffle on
    event_type to O(|types|) rows. Explicit pivot values skip the
    extra distinct-values job."""
    return status_pivot(load_table(spark, sf_dir, "events"))


@query(
    "event_report_totals",
    oracle=f"""
    SELECT count(*) AS total_events,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'ERROR') AS total_errors
    FROM events
    """,
)
def event_report_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference spark.py:25,33-34 — total_events + total_errors, as ONE
    aggregation (the reference runs two actions over a cached scan; a
    single conditional aggregate does it in one pass)."""
    events = with_status(load_table(spark, sf_dir, "events"))
    return events.agg(
        F.count("*").alias("total_events"),
        F.count(F.when(F.col("status") == "ERROR", 1)).alias("total_errors"),
    )


@query(
    "event_minute_counts",
    oracle=f"""
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS event_minute,
           event_type,
           count(*) AS n_events,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'ERROR') AS n_errors
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_minute_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-minute window (T1/P3): the MergeTree minute partition +
    minutely DAG re-expressed as one groupBy. Minute emitted as a string
    (ns-parquet timestamps truncate differently across engines)."""
    events = with_status(load_table(spark, sf_dir, "events"))
    return (
        events.withColumn("event_minute_ts", F.date_trunc("minute", F.col("ts")))
        .groupBy("event_minute_ts", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("status") == "ERROR", 1)).alias("n_errors"),
        )
        .select(
            F.date_format("event_minute_ts", "yyyy-MM-dd HH:mm").alias("event_minute"),
            "event_type",
            "n_events",
            "n_errors",
        )
        .orderBy("event_minute", "event_type")
    )


@query(
    "event_error_rate",
    oracle=f"""
    SELECT event_type,
           count(*) AS total,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'ERROR') AS errors,
           count(*) FILTER (WHERE {_STATUS_SQL} = 'ERROR') / CAST(count(*) AS DOUBLE)
               AS error_rate
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def event_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — the README's 'success/error rate per event type' as an actual
    rate. error_rate is a division of two exact integers → bit-identical
    across engines with no rounding games."""
    events = with_status(load_table(spark, sf_dir, "events"))
    errors = F.count(F.when(F.col("status") == "ERROR", 1))
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("total"),
            errors.alias("errors"),
            (errors / F.count("*").cast("double")).alias("error_rate"),
        )
        .orderBy("event_type")
    )


@query(
    "event_value_stats",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
           count(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 + A-class: JSON field extraction feeding grouping and
    aggregation. Money-style double summed as exact integer cents."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.withColumn("k", k)
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


@query(
    "event_sessionization",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 — gap-based sessionization (the reference generates sessions
    but never analyzes them). One shuffle on user_id serves both the lag
    window and the final per-user aggregate."""
    return (
        _sessionized(load_table(spark, sf_dir, "events"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "event_top_event_type_daily",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT day, event_type, n,
               rank() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
        FROM daily
    )
    SELECT day, event_type, n FROM ranked WHERE rnk = 1 ORDER BY day
    """,
)
def event_top_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function top-1: busiest event type per day (deterministic
    tie-break on event_type)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        daily.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") == 1)
        .select("day", "event_type", "n")
        .orderBy("day")
    )


@query(
    "event_tehran_display",
    oracle="""
    SELECT strftime(date_trunc('minute', ts + INTERVAL 210 MINUTE),
                    '%Y-%m-%d_%H-%M') AS tehran_minute,
           count(*) AS n
    FROM events
    GROUP BY 1 ORDER BY 1 LIMIT 100
    """,
)
def event_tehran_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3 — the reference's UTC→Asia/Tehran display conversion and
    'YYYY-mm-dd_HH-MM' object naming (airflow/dags/pipeline.py:130-131).
    Iran is fixed UTC+03:30 (no DST since 2022), so the oracle uses
    interval arithmetic; Spark uses the tz database natively."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("tehran_ts", F.from_utc_timestamp(F.col("ts"), "Asia/Tehran"))
        .groupBy(
            F.date_format(F.date_trunc("minute", "tehran_ts"), "yyyy-MM-dd_HH-mm").alias(
                "tehran_minute"
            )
        )
        .agg(F.count("*").alias("n"))
        .orderBy("tehran_minute")
        .limit(100)
    )


STREAK_THRESHOLD = 3


@query(
    "event_error_streaks",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             count(*) FILTER (WHERE event_type <> 'error')
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
      FROM events
    ), streaks AS (
      SELECT user_id, ts,
             row_number() OVER (PARTITION BY user_id, grp
                                ORDER BY ts, event_id) AS pos
      FROM marked WHERE event_type = 'error'
    )
    SELECT user_id, epoch_ms(ts) AS alert_ms, CAST(pos AS INT) AS streak
    FROM streaks WHERE pos = {STREAK_THRESHOLD}
    ORDER BY user_id, alert_ms
    """,
)
def event_error_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-error streak alerts (batch gaps-and-islands twin of
    ``streaming/stateful.py:error_streak_alerts``): an alert row the
    moment a user's run of consecutive 'error' events reaches the
    threshold. The island id is the running count of NON-error rows —
    constant within an error run, bumps between runs — so two window
    passes over one user_id shuffle do it; no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = ev.withColumn(
        "grp", F.count(F.when(F.col("event_type") != "error", 1)).over(w_run)
    ).where(F.col("event_type") == "error")
    w_pos = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    return (
        marked.withColumn("pos", F.row_number().over(w_pos))
        .where(F.col("pos") == STREAK_THRESHOLD)
        .select(
            "user_id",
            F.unix_millis("ts").alias("alert_ms"),
            F.col("pos").cast("int").alias("streak"),
        )
        .orderBy("user_id", "alert_ms")
    )


@query(
    "event_funnel_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
               AS first_view_ms,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
               AS first_purchase_ms
      FROM events GROUP BY user_id
    ), flags AS (
      SELECT user_id,
             CASE WHEN first_view_ms IS NOT NULL THEN 1 ELSE 0 END AS viewer,
             CASE WHEN first_view_ms IS NOT NULL
                   AND first_purchase_ms > first_view_ms THEN 1 ELSE 0 END
               AS converted
      FROM firsts
    )
    SELECT count(*) AS n_users,
           CAST(SUM(viewer) AS BIGINT) AS n_viewers,
           CAST(SUM(converted) AS BIGINT) AS n_converted
    FROM flags
    """,
)
def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase funnel: users whose first purchase strictly
    follows their first view. One shuffle on user_id (conditional-min
    aggregation), then an O(users) rollup — the funnel shape that
    scales, vs the self-join formulation that doesn't."""
    firsts = _first_view_purchase(load_table(spark, sf_dir, "events"))
    viewer = F.col("first_view_ms").isNotNull()
    converted = viewer & (F.col("first_purchase_ms") > F.col("first_view_ms"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(viewer.cast("bigint")).alias("n_viewers"),
        F.sum(converted.cast("bigint")).alias("n_converted"),
    )


def approx_cardinality_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch next to the exact count, per event type — the raw
    comparison surface for the accuracy golden tests
    (tests/test_sketches.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count_distinct("user_id").alias("exact_users"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "events_approx_cardinality",
    # The sketch VALUE is engine-specific (Spark HyperLogLog++ vs
    # DuckDB approx_distinct differ by design), so the oracle checks
    # the sketch's CONTRACT instead: the query emits the exact answer
    # plus an integer within-10%-of-exact flag computed from the HLL
    # estimate (rsd=0.02 -> 3-sigma ~6%; 10% is the documented bound,
    # integer arithmetic so the hash is bit-stable); the oracle emits
    # the exact answer and literal 1. A broken sketch (off by orders
    # of magnitude) flips the flag and hash-FAILs at the driver.
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           CAST(1 AS INT) AS hll_within_10pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_approx_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality: HyperLogLog++ distinct users per
    event type, driver-checked against the exact count via an integer
    tolerance flag. At 100 TB the exact count_distinct expands every
    (type, user) pair through the shuffle; the HLL sketch is fixed-size
    per group, combines map-side, and is the only form that stays
    one-pass when the group count explodes — the SCALE.md 'sketches
    replace exact where the consumer tolerates error' path,
    materialized (the exact column exists here only to be checkable;
    the production form drops it)."""
    d = approx_cardinality_detail(spark, sf_dir)
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users")) * F.lit(10)
        <= F.col("exact_users")
    )
    return d.select(
        "event_type",
        "exact_users",
        "n_events",
        within.cast("int").alias("hll_within_10pct"),
    )


@query(
    "event_minute_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS m
      FROM bounds
    ), counts AS (
      SELECT date_trunc('minute', ts) AS m, count(*) AS c
      FROM events GROUP BY 1
    )
    SELECT strftime(spine.m, '%Y-%m-%d %H:%M') AS event_minute,
           CAST(COALESCE(c, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN c IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
    FROM spine LEFT JOIN counts ON spine.m = counts.m
    ORDER BY event_minute
    """,
)
def event_minute_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (resample + gap fill): every minute
    from the first to the last event, with 0-filled counts and a gap
    flag — the step that turns sparse event counts into a regular
    series for rate charts / anomaly baselines.

    Scale: the minute spine is generated from a 1-row min/max
    aggregate (a year is only ~526k minutes — driver-trivial,
    broadcast as the LEFT side builds); the event side is the usual
    partial-agg minute rollup, so nothing new shuffles."""
    ev = load_table(spark, sf_dir, "events")
    spine = _minute_spine(ev)
    counts = ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        F.count("*").alias("c")
    )
    return (
        spine.join(counts, "m", "left")
        .select(
            F.date_format("m", "yyyy-MM-dd HH:mm").alias("event_minute"),
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("c").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
        .orderBy("event_minute")
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id
             ) AS next_type
      FROM events
    ), pairs AS (
      SELECT event_type, next_type, count(*) AS n
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, n,
           n / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE)
               AS transition_prob
    FROM pairs
    ORDER BY event_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: for each consecutive
    per-user event pair, the count and conditional probability of
    event_type -> next_type (the Markov-chain view of user journeys
    that funnels/next-action models start from). Ordering ties on ts
    break deterministically by event_id; the oracle truncates its
    ns timestamps to the microseconds Spark reads, so both engines
    sort identically.

    Scale: one user_id-partitioned window (the sessionization shuffle,
    reusable across queries), then an O(|types|^2) aggregate — the
    transition matrix itself is 25 rows however big the corpus is."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wt = Window.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(wt).cast("double")).alias("transition_prob"),
    ).orderBy("event_type", "next_type")


@query(
    "latest_event_per_user",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type, value,
             strftime(date_trunc('microseconds', ts), '%Y-%m-%d %H:%M:%S.%f')
                 AS last_ts,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           value AS last_value, last_ts
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot compaction (the CDC/SCD-1 'current state' view):
    one row per user carrying the most recent event, ties broken
    deterministically by event_id. The op a warehouse runs to compact
    an append-only change stream into a keyed snapshot.

    Scale: single user_id-partitioned window; at 100 TB this is the
    canonical candidate for max_by partial aggregation instead of a
    full sort window — kept as row_number here because the whole-row
    payload rides the same shuffle either way, and AQE handles the
    user-key skew."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("value").alias("last_value"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "event_dedup_within_window",
    oracle="""
    WITH bucketed AS (
      SELECT event_type, user_id,
             to_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT))
                 AS bucket,
             event_id,
             row_number() OVER (
               PARTITION BY user_id, event_type,
                            CAST(floor(epoch(ts) / 600) AS BIGINT)
               ORDER BY date_trunc('microseconds', ts), event_id
             ) AS rn
      FROM events
    )
    SELECT event_type,
           count(*) AS n_total,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           count(*) FILTER (WHERE rn = 1) / CAST(count(*) AS DOUBLE)
               AS keep_ratio
    FROM bucketed
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_dedup_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed dedup keep-first — the batch form of a streaming
    ``dropDuplicates`` (replayed by ``event_dedup_stream_replay``):
    within each (user, event_type, 10-minute bucket), only the first
    event survives; the output summarizes survivor ratios per type
    (the delivery-guarantee dashboard number).

    Scale: the bucket key is computed from epoch seconds (no
    timezone/calendar ambiguity), the window partitions by
    (user, type, bucket) — high-cardinality composite, no hot key —
    and the final rollup is O(|types|)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.unix_timestamp("ts") / 600).cast("bigint")
    w = Window.partitionBy("user_id", "event_type", bucket).orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("rn") == 1, 1)).cast("bigint").alias("n_kept"),
            (
                F.count(F.when(F.col("rn") == 1, 1))
                / F.count("*").cast("double")
            ).alias("keep_ratio"),
        )
        .orderBy("event_type")
    )


@query(
    "user_value_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, value,
             strftime(date_trunc('microseconds', ts), '%Y-%m-%d %H:%M:%S.%f')
                 AS valid_from,
             strftime(lead(date_trunc('microseconds', ts)) OVER (
               PARTITION BY user_id
               ORDER BY date_trunc('microseconds', ts), event_id
             ), '%Y-%m-%d %H:%M:%S.%f') AS valid_to
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id, value, valid_from,
           COALESCE(valid_to, '9999-12-31 00:00:00.000000') AS valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_current
    FROM iv
    ORDER BY user_id, valid_from, event_id
    """,
)
def user_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 interval build: each purchase's value becomes a
    [valid_from, valid_to) validity interval per user, closed by the
    next purchase and open-ended (9999-12-31 sentinel + is_current
    flag) for the latest — the slowly-changing-dimension history table
    a warehouse derives from a change stream.

    Scale: one user_id-partitioned window (lead), no joins; the
    sentinel keeps the schema non-null so downstream range predicates
    (AS OF queries) never branch on NULL."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        ev.withColumn("next_ts", F.lead("ts").over(w))
        .select(
            "user_id",
            "event_id",
            "value",
            F.date_format("ts", fmt).alias("valid_from"),
            F.coalesce(
                F.date_format("next_ts", fmt),
                F.lit("9999-12-31 00:00:00.000000"),
            ).alias("valid_to"),
            F.when(F.col("next_ts").isNull(), 1).otherwise(0).cast("int").alias(
                "is_current"
            ),
        )
        .orderBy("user_id", "valid_from", "event_id")
    )


@query(
    "event_hour_dow_heatmap",
    oracle="""
    SELECT CAST(EXTRACT(ISODOW FROM ts) AS BIGINT) AS dow,
           CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS n_purchases
    FROM events
    GROUP BY dow, hour
    ORDER BY dow, hour
    """,
)
def event_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar heatmap rollup (ISO day-of-week x hour): the seasonality
    profile behind capacity planning and anomaly baselines. Exercises
    the calendar extraction functions on both engines (ISO dow: Monday
    = 1 ... Sunday = 7, which Spark's dayofweek does NOT use — the
    expression maps it explicitly).

    Scale: pure scan + O(168)-group aggregate, partials map-side."""
    ev = load_table(spark, sf_dir, "events")
    # Spark dayofweek: Sunday=1..Saturday=7; ISO wants Monday=1..Sunday=7
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("bigint")
    return (
        ev.groupBy(isodow.alias("dow"), F.hour("ts").cast("bigint").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .orderBy("dow", "hour")
    )


def approx_quantiles_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (event_type, quantile) with the approx_percentile
    sample value — the raw surface for the accuracy golden tests and
    the flag computation below. accuracy=10000 -> rank error 1e-4."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)").alias(
            "approx_pcts"
        ),
        F.count("value").alias("n_values"),
    )
    return agg.select(
        "event_type",
        "n_values",
        F.posexplode("approx_pcts").alias("pos", "approx_value"),
    ).select(
        "event_type",
        F.element_at(
            F.array(F.lit("p50"), F.lit("p95"), F.lit("p99")), F.col("pos") + 1
        ).alias("quantile"),
        (
            F.element_at(F.array(F.lit(50), F.lit(95), F.lit(99)), F.col("pos") + 1)
        ).alias("pct"),
        "approx_value",
        "n_values",
    )


@query(
    "events_approx_quantiles",
    # approx_percentile's guarantee is on RANK, not value (it returns
    # an actual sample; exact percentile interpolates), and its
    # internals are engine-specific — so the oracle checks the
    # contract: the query re-ranks each sketch value against the data
    # and emits an integer within-2%-rank flag (ties handled by using
    # <= for the lower bound and < for the upper); the oracle emits
    # literal 1. Integer arithmetic throughout -> bit-stable hash.
    oracle="""
    WITH t AS (
      SELECT event_type, CAST(count(value) AS BIGINT) AS n_values
      FROM events GROUP BY event_type
    )
    SELECT event_type, quantile, n_values, CAST(1 AS INT) AS rank_ok
    FROM t CROSS JOIN (VALUES ('p50'), ('p95'), ('p99')) AS q(quantile)
    ORDER BY event_type, quantile
    """,
)
def events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with a driver-checkable accuracy
    contract: p50/p95/p99 of event value per type via approx_percentile,
    each sample re-ranked against the data and flagged if its rank is
    within 2% of the target. At 100 TB the exact form needs a full sort
    (or a per-group collect) — the sketch is fixed-size per group,
    combines map-side, and is the only one-pass option; the SCALE.md
    sketch policy, quantile edition. The re-rank pass is a broadcast
    join of the O(types x 3) sketch values against the fact followed by
    a partial-agg count — itself the scale-correct verification shape."""
    from pyspark.sql.functions import broadcast

    ev = load_table(spark, sf_dir, "events")
    d = approx_quantiles_detail(spark, sf_dir)
    vals = ev.select("event_type", "value").where(F.col("value").isNotNull())
    joined = vals.join(broadcast(d), "event_type")
    ranked = joined.groupBy("event_type", "quantile", "pct", "n_values").agg(
        F.sum((F.col("value") <= F.col("approx_value")).cast("bigint")).alias(
            "cnt_le"
        ),
        F.sum((F.col("value") < F.col("approx_value")).cast("bigint")).alias(
            "cnt_lt"
        ),
    )
    # a type whose values are ALL NULL has no sketch rows at all
    # (approx_percentile returns a NULL array, posexplode drops it),
    # but the rank contract is vacuously satisfied at n = 0 and the
    # oracle emits its (type, quantile) rows with n_values = 0 — so
    # anchor the output on the full type x quantile grid and coalesce
    # the rank counts to 0 (r13 null-flood sweep)
    grid = (
        ev.groupBy("event_type")
        .agg(F.count("value").alias("n_values"))
        .select(
            "event_type",
            "n_values",
            # inline literal grid instead of a crossJoin(broadcast(3-row
            # frame)): same rows, no BroadcastNestedLoopJoin node at all
            # (plan-audit r13; the BNLJ tripped bnlj-over-two-scans)
            F.expr(
                "inline(array("
                "named_struct('quantile','p50','pct',50),"
                "named_struct('quantile','p95','pct',95),"
                "named_struct('quantile','p99','pct',99)))"
            ),
        )
    )
    full = grid.join(
        ranked.select("event_type", "quantile", "cnt_le", "cnt_lt"),
        ["event_type", "quantile"],
        "left",
    )
    n = F.col("n_values")
    cnt_le = F.coalesce(F.col("cnt_le"), F.lit(0))
    cnt_lt = F.coalesce(F.col("cnt_lt"), F.lit(0))
    ok = (
        (cnt_le * 100 >= (F.col("pct") - 2) * n)
        & (cnt_lt * 100 <= (F.col("pct") + 2) * n + 100)
    )
    return full.select(
        "event_type",
        "quantile",
        "n_values",
        ok.cast("int").alias("rank_ok"),
    ).orderBy("event_type", "quantile")


@query(
    "event_sliding_window_counts",
    oracle="""
    WITH grid AS (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)) AS ws,
             event_type
      FROM events
      UNION ALL
      SELECT to_timestamp(CAST(floor((epoch(ts) - 300) / 600) * 600 + 300
                               AS BIGINT)),
             event_type
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n_events
    FROM grid
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
)
def event_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (10-minute windows sliding every 5): each
    event lands in exactly two overlapping windows — the batch form of
    Structured Streaming's ``window(ts, '10 minutes', '5 minutes')``,
    and the oracle proves the semantics by rebuilding the same answer
    from two staggered tumbling grids.

    Scale: F.window expands each row into slide_count=2 rows before a
    standard partial-agg rollup — state is O(windows x types), and the
    expansion factor is window/slide, a planner-visible constant."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


ROBUST_Z_CUT = 3.5  # |robust z| above this is an outlier (Iglewicz-Hoaglin)
MAD_SCALE = 0.6745  # modified z-score constant (Iglewicz & Hoaglin 1993)


@query(
    "event_value_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value, m.med, d.mad,
           {MAD_SCALE} * (e.value - m.med) / d.mad AS robust_z
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE d.mad > 0
      AND abs({MAD_SCALE} * (e.value - m.med) / d.mad) > {ROBUST_Z_CUT}
    ORDER BY e.event_type, e.event_id
    """,
)
def event_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection on event values: modified z-score
    (Iglewicz-Hoaglin) from the per-type median and MAD — immune to the
    outliers it hunts, unlike mean/stddev z-scores. Exact interpolated
    medians (percentile / quantile_cont agree bit-wise on sorted-pair
    interpolation) and per-row IEEE arithmetic keep both engines
    hash-identical.

    Scale: two tiny aggregations (O(|event_types|) rows each) broadcast
    back onto the fact scan — the events table itself never shuffles;
    each pass is a map-side partial aggregate plus a broadcast join."""
    ev = load_table(spark, sf_dir, "events")
    # med feeds BOTH the MAD pass and the final filter — session-cache
    # the O(types) rollup so the fact is scanned three times (the
    # irreducible exact-median/MAD/filter cost), not four, and repeat
    # invocations reuse ONE InMemoryRelation
    med = session_cached(
        spark,
        frame_memo_tag(sf_dir, "outlier_med"),
        lambda: ev.groupBy("event_type").agg(
            F.expr("percentile(value, 0.5)").alias("med")
        ),
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    z = F.lit(MAD_SCALE) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .where((F.col("mad") > 0) & (F.abs(z) > ROBUST_Z_CUT))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            z.alias("robust_z"),
        )
        .orderBy("event_type", "event_id")
    )


SKEW_TOP_SHARE_K = 10


@query(
    "key_skew_profile",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rk
      FROM per_key
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_count,
           quantile_cont(c, 0.5) AS p50_count,
           quantile_cont(c, 0.99) AS p99_count,
           MAX(c) / quantile_cont(c, 0.5) AS skew_ratio,
           SUM(CASE WHEN rk <= {SKEW_TOP_SHARE_K} THEN c ELSE 0 END)
             / CAST(SUM(c) AS DOUBLE) AS top{SKEW_TOP_SHARE_K}_share
    FROM ranked
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/groupBy-key skew diagnostics for the events fact table —
    the profile run BEFORE picking a partitioning strategy at 100 TB
    (salting threshold, AQE skew-join effectiveness, broadcast
    candidacy). Reports key cardinality, heaviest key, p50/p99 key
    sizes, max/p50 skew ratio, and the row share held by the top
    {SKEW_TOP_SHARE_K} keys.

    Scale: one shuffle keyed on user_id with map-side partial counts;
    the per-key count table (O(n_keys)) then reduces to a single row —
    the top-k share uses a rank window over counts, which AQE executes
    as a single-partition sort of the count table, not of the facts."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("c"))
    ranked = per_key.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "user_id"))
        .alias("rk"),
    )
    top_c = F.when(F.col("rk") <= SKEW_TOP_SHARE_K, F.col("c")).otherwise(0)
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.max("c").cast("bigint").alias("max_count"),
        F.expr("percentile(c, 0.5)").alias("p50_count"),
        F.expr("percentile(c, 0.99)").alias("p99_count"),
        (F.max("c") / F.expr("percentile(c, 0.5)")).alias("skew_ratio"),
        (F.sum(top_c) / F.sum("c").cast("double")).alias(
            f"top{SKEW_TOP_SHARE_K}_share"
        ),
    )


@query(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date FROM events
      GROUP BY user_id
    ), cohort_sizes AS (
      SELECT cohort_date, count(*) AS cohort_size FROM firsts
      GROUP BY cohort_date
    ), active AS (
      SELECT DISTINCT e.user_id, f.cohort_date,
             datediff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT CAST(a.cohort_date AS VARCHAR) AS cohort_date,
           CAST(a.day_offset AS INT) AS day_offset,
           count(*) AS n_active,
           CAST(MAX(s.cohort_size) AS BIGINT) AS cohort_size,
           count(*) / CAST(MAX(s.cohort_size) AS DOUBLE) AS retention
    FROM active a JOIN cohort_sizes s USING (cohort_date)
    GROUP BY a.cohort_date, a.day_offset
    ORDER BY cohort_date, day_offset
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen date,
    counted as active per day-offset from their cohort date — the
    engagement decay curve behind every DAU/WAU dashboard. Exact
    integer counts + one final division keep it engine-portable.

    Scale: first-seen is one shuffle keyed on user_id (map-side MIN
    partials); the facts then join that table on the same user_id key
    (co-partitioned, no second fact shuffle under AQE reuse), distinct
    (user, cohort, offset) collapses with partial aggregation, and the
    O(|days|) cohort sizes broadcast onto the final rollup."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    cohort_sizes = firsts.groupBy("cohort_date").agg(
        F.count("*").alias("cohort_size")
    )
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_date",
            F.datediff(F.to_date("ts"), F.col("cohort_date")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return (
        active.join(F.broadcast(cohort_sizes), "cohort_date")
        .groupBy("cohort_date", "day_offset")
        .agg(
            F.count("*").alias("n_active"),
            F.max("cohort_size").cast("bigint").alias("cohort_size"),
            (F.count("*") / F.max("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
        .select(
            F.col("cohort_date").cast("string").alias("cohort_date"),
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_active",
            "cohort_size",
            "retention",
        )
        .orderBy("cohort_date", "day_offset")
    )


STICKY_WINDOW_DAYS = 7  # WAU lookback (inclusive of the report day)


@query(
    "user_stickiness_daily",
    oracle=f"""
    WITH active AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), spine AS (
      SELECT DISTINCT day FROM active
    ), wau AS (
      SELECT s.day, count(DISTINCT a.user_id) AS wau
      FROM spine s JOIN active a
        ON a.day <= s.day
       AND a.day >= s.day - {STICKY_WINDOW_DAYS - 1}
      GROUP BY s.day
    ), dau AS (
      SELECT day, count(*) AS dau FROM active GROUP BY day
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           d.dau / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w USING (day)
    ORDER BY day
    """,
)
def user_stickiness_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness per day — the engagement ratio behind
    every growth dashboard. Rolling distinct users canNOT be built from
    daily distinct counts (users repeat across days), so WAU joins the
    (user, day) activity set onto the day spine with a bounded
    {STICKY_WINDOW_DAYS}-day band condition and re-counts distinct.

    Scale: activity collapses to distinct (user, day) first (partial
    agg on the fact scan — the only pass over raw events); the band
    join then fans each activity row into at most {STICKY_WINDOW_DAYS}
    spine days (planner-visible constant), and the spine side is
    O(|days|), broadcastable at any horizon."""
    ev = load_table(spark, sf_dir, "events")
    # cached: feeds the spine, the band join, AND the dau rollup — the
    # docstring's "only pass over raw events" holds because this
    # distinct frame materializes once
    active = session_cached(
        spark,
        frame_memo_tag(sf_dir, "user_day_distinct"),
        lambda: ev.select("user_id", F.to_date("ts").alias("day")).distinct(),
    )
    spine = F.broadcast(active.select("day").distinct().alias("s"))
    a = active.alias("a")
    wau = (
        a.join(
            spine,
            (F.col("a.day") <= F.col("s.day"))
            & (
                F.col("a.day")
                >= F.date_sub(F.col("s.day"), STICKY_WINDOW_DAYS - 1)
            ),
        )
        .groupBy(F.col("s.day").alias("day"))
        .agg(F.count_distinct("a.user_id").alias("wau"))
    )
    dau = active.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            (F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "first_seen_users_batch",
    oracle="""
    SELECT user_id,
           strftime(date_trunc('microseconds', min(ts)),
                    '%Y-%m-%d %H:%M:%S.%f') AS first_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def first_seen_users_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming new-entity detector
    (``streaming/stateful.py:first_seen_users``): one row per user with
    their earliest event time, via plain groupBy-min — the same
    first-seen basis ``user_retention_cohorts`` builds internally, now
    driver-checkable so the first-seen family has an oracle-paired
    anchor. ``tests/test_stateful_streaming.py`` asserts the streaming
    operator's output matches this basis on in-order sources (and
    documents the at-first-batch divergence on out-of-order ones).

    Scale: partial-agg min on the fact scan, state O(|users|) — the
    cheapest possible shape for this answer."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("ts_min"))
        .select(
            "user_id",
            F.date_format("ts_min", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "first_ts"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "event_type_cooccurrence",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), n_users AS (
      SELECT count(DISTINCT user_id) AS n FROM events
    ), type_counts AS (
      SELECT event_type, count(*) AS n_type FROM ut GROUP BY event_type
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(ta.n_type AS BIGINT) AS n_a,
           CAST(tb.n_type AS BIGINT) AS n_b,
           (p.n_both * u.n) / CAST(ta.n_type * tb.n_type AS DOUBLE) AS lift
    FROM pairs p
    JOIN type_counts ta ON ta.event_type = p.type_a
    JOIN type_counts tb ON tb.event_type = p.type_b
    CROSS JOIN n_users u
    ORDER BY type_a, type_b
    """,
)
def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between event types: for each unordered
    type pair, how many users perform both, and the lift
    P(a,b)/(P(a)P(b)) — computed as the exact integer cross-product
    n_both*n_users over n_a*n_b with ONE final division, so both
    engines agree bit-for-bit. Complements the (sequential)
    transition matrix with an order-free association view.

    Scale: the basket set collapses to distinct (user, type) first —
    the only pass over raw events; the self-join fans each user into
    at most |types|-choose-2 pairs (a planner-visible constant for a
    bounded type vocabulary), and the per-type counts broadcast onto
    the O(|types|^2) pair table."""
    ev = load_table(spark, sf_dir, "events")
    # the distinct basket frame feeds both self-join sides, the
    # per-type counts, AND the user total (every user has >= 1 type,
    # so count_distinct over it equals the raw-table count) — cache it
    # so the fact is scanned once
    ut = session_cached(
        spark,
        frame_memo_tag(sf_dir, "user_type_distinct"),
        lambda: ev.select("user_id", "event_type").distinct(),
    )
    n_users = ut.agg(F.count_distinct("user_id").alias("n"))
    type_counts = ut.groupBy("event_type").agg(F.count("*").alias("n_type"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    ta = type_counts.select(
        F.col("event_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    tb = type_counts.select(
        F.col("event_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .join(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            (
                (F.col("n_both") * F.col("n"))
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


CUSUM_TARGET_PCT = 30  # target+allowance above the ~25% design error rate
CUSUM_DRIFT_UNITS = 1500  # flag threshold, in (error-count x 100) units


@query(
    "events_cusum_drift",
    # One-sided CUSUM via the running-min identity:
    #   S_t = max(0, S_{t-1} + dev_t)  ==  U_t - min_{j<=t} U_j
    # with U_t = cumsum(dev). dev stays an exact integer
    # (100*n_err - TARGET_PCT*n_total), so the whole recursion is
    # BIGINT window arithmetic — no floats anywhere.
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             count(*) AS n_events,
             CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k')
                                      AS INTEGER) < {ERROR_K_THRESHOLD}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    ), dev AS (
      SELECT h, n_events, n_errors,
             100 * n_errors - {CUSUM_TARGET_PCT} * n_events AS d
      FROM hourly
    ), cum AS (
      SELECT h, n_events, n_errors,
             CAST(SUM(d) OVER (ORDER BY h) AS BIGINT) AS u
      FROM dev
    ), run AS (
      SELECT h, n_events, n_errors, u,
             CAST(MIN(u) OVER (ORDER BY h) AS BIGINT) AS u_min
      FROM cum
    )
    SELECT strftime(h, '%Y-%m-%d %H:00') AS hour, n_events, n_errors,
           u - LEAST(u_min, 0) AS cusum_units,
           CAST(CASE WHEN u - LEAST(u_min, 0) > {CUSUM_DRIFT_UNITS}
                     THEN 1 ELSE 0 END AS INT) AS drift_flag
    FROM run ORDER BY hour
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point surveillance on the hourly error rate: a one-sided
    CUSUM over (100*errors - {TGT}*events) per hour, flagging hours
    where the accumulated excess error mass exceeds {THR} units — the
    drift detector that catches a slow error-rate creep long before
    any single hour breaches an alert threshold. The recursive
    max(0, prev + dev) is re-expressed as running-sum minus
    running-min, exactly SQL-expressible in both engines and exact
    integer end to end.

    Scale: the partial-aggregated hourly rollup is the only data-sized
    shuffle; the CUSUM windows run over the O(hours) series (720 rows
    per month — driver-tiny at any corpus size, same class as
    ``hourly_count_autocorr_24h``)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n_events"),
        # when/otherwise(0), not a bare boolean cast: a NULL props (in
        # contract — the generator emits conditional nulls) makes k
        # NULL, and the oracle's CASE ... ELSE 0 counts it as
        # not-an-error; a bare cast would sum NULLs to NULL (r13
        # null-flood sweep)
        F.sum(F.when(k < ERROR_K_THRESHOLD, 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    dev = hourly.withColumn(
        "d",
        100 * F.col("n_errors") - CUSUM_TARGET_PCT * F.col("n_events"),
    )
    wu = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    run = dev.select(
        "h",
        "n_events",
        "n_errors",
        F.sum("d").over(wu).cast("bigint").alias("u"),
    ).withColumn("u_min", F.min("u").over(wu).cast("bigint"))
    cusum = F.col("u") - F.least(F.col("u_min"), F.lit(0).cast("bigint"))
    return run.select(
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        "n_events",
        "n_errors",
        cusum.alias("cusum_units"),
        (cusum > CUSUM_DRIFT_UNITS).cast("int").alias("drift_flag"),
    ).orderBy("hour")


events_cusum_drift.__doc__ = events_cusum_drift.__doc__.replace(
    "{TGT}", str(CUSUM_TARGET_PCT)
).replace("{THR}", str(CUSUM_DRIFT_UNITS))


# --- Markov next-event backtest ----------------------------------------

# the WITH-prefix shared by the backtest and reliability oracles — one
# constant so the two final SELECTs can never drift from the CTEs
_BACKTEST_CTES = """
    WITH bounds AS (
      SELECT (epoch_us(date_trunc('microseconds', min(ts)))
              + epoch_us(date_trunc('microseconds', max(ts)))) // 2
               AS split_us
      FROM events
    ), ordered AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER w AS next_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY date_trunc('microseconds', ts), event_id)
    ), pairs AS (
      SELECT event_type AS prev, next_type AS nxt,
             CASE
               WHEN epoch_us(date_trunc('microseconds', next_ts)) < split_us
                 THEN 'train'
               WHEN epoch_us(date_trunc('microseconds', ts)) >= split_us
                 THEN 'test'
               ELSE 'cross'
             END AS side
      FROM ordered CROSS JOIN bounds WHERE next_type IS NOT NULL
    ), roll AS (
      SELECT prev, nxt, side, CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1, 2, 3
    ), model AS (
      SELECT prev, nxt AS pred_type FROM (
        SELECT prev, nxt, n,
               ROW_NUMBER() OVER (PARTITION BY prev
                                  ORDER BY n DESC, nxt) AS rk
        FROM roll WHERE side = 'train'
      ) WHERE rk = 1
    ), train_tot AS (
      SELECT prev, CAST(SUM(n) AS BIGINT) AS n_train
      FROM roll WHERE side = 'train' GROUP BY 1
    ), test_agg AS (
      SELECT r.prev, CAST(SUM(r.n) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN r.nxt = m.pred_type THEN r.n ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM roll r JOIN model m ON r.prev = m.prev
      WHERE r.side = 'test' GROUP BY 1
    )
    """

_BACKTEST_ORACLE = _BACKTEST_CTES + """SELECT t.prev AS event_type, m.pred_type, tt.n_train,
           t.n_test, t.n_hits,
           CAST(t.n_hits AS DOUBLE) / t.n_test AS hit_rate
    FROM test_agg t
    JOIN model m ON t.prev = m.prev
    JOIN train_tot tt ON t.prev = tt.prev
    ORDER BY event_type
    """

def _backtest_roll(spark: SparkSession, sf_dir: str):
    """The (prev, nxt, side) pair rollup behind the Markov backtest —
    session-cached under one tag so the hit-rate and reliability
    queries share a single build of the user-window pass."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
        .cast("bigint")
        .alias("split_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .withColumn("next_ts", F.lead("ts").over(w))
        .where(F.col("next_type").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            F.col("event_type").alias("prev"),
            F.col("next_type").alias("nxt"),
            F.when(F.unix_micros("next_ts") < F.col("split_us"), "train")
            .when(F.unix_micros("ts") >= F.col("split_us"), "test")
            .otherwise("cross")
            .alias("side"),
        )
    )
    # session_cached O(|types|^2 x 3) side rollup: the model/train-
    # total/test branches would each re-run the user window otherwise
    return session_cached(
        spark,
        frame_memo_tag(sf_dir, "backtest_roll"),
        lambda: pairs.groupBy("prev", "nxt", "side")
        .agg(F.count("*").cast("bigint").alias("n"))
        .coalesce(1),
    )


@query("markov_backtest_hitrate", oracle=_BACKTEST_ORACLE)
def markov_backtest_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-split backtest of the first-order Markov next-event model:
    train on the first half of the clock (pairs whose SECOND event
    precedes the midpoint of the corpus time range), predict each
    type's most frequent successor (ties to the lexicographically
    smallest, so the model is a deterministic function), score on
    pairs fully inside the second half — per antecedent type the
    prediction, train/test support, and hit rate. The
    evaluate-before-you-ship step on top of
    ``event_transition_matrix``; boundary-straddling pairs belong to
    neither split, exactly like a leakage-safe temporal split.

    Scale: one user-partitioned window pass over events (the
    sessionization shuffle) reduced immediately to the O(|types|² x 3)
    train/test/cross rollup, cached; model fit, train totals, and
    scoring are all joins over that tiny frame. The split point is a
    broadcast 1-row (min,max) aggregate — integer microseconds on
    both engines."""
    roll = _backtest_roll(spark, sf_dir)
    train = roll.where(F.col("side") == "train")
    rk_w = Window.partitionBy("prev").orderBy(F.col("n").desc(), "nxt")
    model = (
        train.withColumn("rk", F.row_number().over(rk_w))
        .where(F.col("rk") == 1)
        .select("prev", F.col("nxt").alias("pred_type"))
    )
    train_tot = train.groupBy("prev").agg(
        F.sum("n").cast("bigint").alias("n_train")
    )
    test_agg = (
        roll.where(F.col("side") == "test")
        .join(model, "prev")
        .groupBy("prev")
        .agg(
            F.sum("n").cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.col("nxt") == F.col("pred_type"), F.col("n")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    return (
        test_agg.join(model, "prev")
        .join(train_tot, "prev")
        .select(
            F.col("prev").alias("event_type"),
            "pred_type",
            "n_train",
            "n_test",
            "n_hits",
            (F.col("n_hits").cast("double") / F.col("n_test")).alias(
                "hit_rate"
            ),
        )
        .orderBy("event_type")
    )


# --- deterministic A/B experiment audit ----------------------------------

AB_SALT = 424242  # experiment id folded into the bucketing hash

_AB_ARM = "CASE WHEN {h} % 2 = 0 THEN 'A' ELSE 'B' END"

_AB_ORACLE = f"""
    WITH tagged AS (
      SELECT {_AB_ARM.format(h=th.salted_md5h(AB_SALT, "CAST(user_id AS VARCHAR)", th.DUCK))}
               AS arm,
             user_id, event_type, value
      FROM events
    ), per_arm AS (
      SELECT arm,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                      THEN user_id END) AS BIGINT)
               AS n_purchasers,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM tagged GROUP BY arm
    )
    SELECT arm, n_users, n_events, n_purchasers, n_purchases,
           CAST(n_purchasers AS DOUBLE) / CAST(n_users AS DOUBLE)
             AS conversion_rate,
           CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)
             AS events_per_user
    FROM per_arm ORDER BY arm
    """


@query("user_ab_experiment_audit", oracle=_AB_ORACLE)
def user_ab_experiment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users are bucketed into
    two arms by a salted portable hash of their id (the salt is the
    experiment id, so a second experiment re-randomizes independently
    — the standard hash-bucketing every experimentation platform
    uses, with no assignment table to store or join), then each arm
    reports exposure (users, events) and the primary metric
    (purchase conversion). The exact integer counts are the chi-square
    /SRM ingredients; the two rates are single cast-first divisions.
    The same device powers deterministic traffic splitting and
    holdout carve-outs at any scale — assignment is a pure function
    of (salt, user_id), reproducible on any engine.

    Scale: one fact pass into a 2-row aggregate; the only shuffle is
    the arm rollup (distinct-user counts partial-aggregate per arm).
    No assignment join — the arm is computed inline on the scan."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.expr(
        _AB_ARM.format(
            h=th.salted_md5h(AB_SALT, "CAST(user_id AS STRING)", th.SPARK)
        )
    )
    is_purchase = F.col("event_type") == "purchase"
    # two-level aggregate instead of two count-distincts (r14, §2.3):
    # the distinct pair forced a 3-way Expand of the fact rows before
    # the shuffle; the (arm, user) pre-aggregate ships one row per
    # user and derives the same four exact counts at level two
    per_user = (
        ev.select(arm.alias("arm"), "user_id", is_purchase.alias("is_p"))
        .groupBy("arm", "user_id")
        .agg(
            F.count("*").alias("ev_cnt"),
            F.sum(F.col("is_p").cast("bigint")).alias("pur_cnt"),
        )
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("ev_cnt").cast("bigint").alias("n_events"),
            F.sum((F.col("pur_cnt") > 0).cast("bigint"))
            .cast("bigint")
            .alias("n_purchasers"),
            F.sum("pur_cnt").cast("bigint").alias("n_purchases"),
        )
        .select(
            "arm",
            "n_users",
            "n_events",
            "n_purchasers",
            "n_purchases",
            (
                F.col("n_purchasers").cast("double")
                / F.col("n_users").cast("double")
            ).alias("conversion_rate"),
            (
                F.col("n_events").cast("double")
                / F.col("n_users").cast("double")
            ).alias("events_per_user"),
        )
        .orderBy("arm")
    )


# --- arrival burstiness (Fano factor) --------------------------------------

_FANO_ORACLE = """
    WITH counts AS (
      SELECT event_type, date_trunc('minute', ts) AS m,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), spanned AS (
      SELECT event_type, c,
             min(m) OVER () AS gmin, max(m) OVER () AS gmax
      FROM counts
    )
    SELECT event_type,
           CAST((epoch(max(gmax)) - epoch(min(gmin))) // 60 + 1 AS BIGINT)
             AS n_minutes,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(c * c) AS BIGINT) AS sum_sq,
           (CAST((epoch(max(gmax)) - epoch(min(gmin))) // 60 + 1 AS DOUBLE)
              * CAST(SUM(c * c) AS DOUBLE)
            - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
             / (CAST((epoch(max(gmax)) - epoch(min(gmin))) // 60 + 1
                     AS DOUBLE)
                * CAST(SUM(c) AS DOUBLE)) AS fano_factor
    FROM spanned GROUP BY event_type ORDER BY event_type
    """


@query("event_arrival_burstiness", oracle=_FANO_ORACLE)
def event_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type as the Fano factor —
    variance-to-mean ratio of per-minute counts over the DENSE minute
    spine (zero minutes included; omitting them is the classic
    burstiness-inflation bug). F = 1 marks a Poisson process; F > 1
    is clumping (incident storms, batch jobs posing as users); F < 1
    is smoother-than-random (rate limiting at work). The capacity
    planner's one-number answer to "can I provision for the mean?".

    The dense spine never materializes: zero minutes contribute
    nothing to SUM(c) or SUM(c^2), so only the minute COUNT of the
    global span enters the formula — carried as a min/max window over
    the bounded (type x minute) count frame, no spine explode, no
    type cross join. Every sum is an exact integer; the Fano factor
    is ONE fixed-shape double expression (the n*SUMsq - SUM^2
    variance form, every factor cast to double FIRST — no per-row
    float residuals). Int64 bound (r13 overflow audit): the events
    span is a fixed 30 days, so SUM(c*c) per type ~ minutes *
    (N_type/minutes)^2 crosses int64 only near N_type ~ 6e11 events
    (~sf3,000,000 at ~1e5 events/type/sf).

    Scale: one fact rollup to the (type, minute) grid; the global
    span rides it as an unpartitioned window over that bounded frame;
    the final reduce is O(types)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", F.date_trunc("minute", F.col("ts")).alias("m")
    ).agg(F.count("*").cast("bigint").alias("c"))
    wall = Window.partitionBy()
    spanned = counts.select(
        "event_type",
        "c",
        F.min("m").over(wall).alias("gmin"),
        F.max("m").over(wall).alias("gmax"),
    )
    n_min = (
        "(CAST(max(gmax) AS BIGINT) - CAST(min(gmin) AS BIGINT)) div 60 + 1"
    )
    fano = (
        f"(CAST({n_min} AS DOUBLE) * CAST(SUM(c * c) AS DOUBLE)"
        f" - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))"
        f" / (CAST({n_min} AS DOUBLE) * CAST(SUM(c) AS DOUBLE))"
    )
    return (
        spanned.groupBy("event_type")
        .agg(
            F.expr(f"CAST({n_min} AS BIGINT)").alias("n_minutes"),
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
            F.expr(fano).alias("fano_factor"),
        )
        .orderBy("event_type")
    )


# --- Markov model reliability (calibration) ---------------------------------

_RELIABILITY_ORACLE = (
    _BACKTEST_CTES
    + """SELECT t.prev AS event_type, m.pred_type, tt.n_train,
           r2.n AS n_pred_train,
           CAST(r2.n AS DOUBLE) / tt.n_train AS confidence,
           t.n_test, t.n_hits,
           CAST(t.n_hits AS DOUBLE) / t.n_test AS hit_rate,
           CAST(r2.n AS DOUBLE) / tt.n_train
             - CAST(t.n_hits AS DOUBLE) / t.n_test AS calibration_gap
    FROM test_agg t
    JOIN model m ON t.prev = m.prev
    JOIN train_tot tt ON t.prev = tt.prev
    JOIN roll r2 ON r2.prev = t.prev AND r2.nxt = m.pred_type
                AND r2.side = 'train'
    ORDER BY event_type
    """
)


@query("markov_reliability", oracle=_RELIABILITY_ORACLE)
def markov_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) of the Markov next-event model: per
    antecedent type, the model's TRAIN-SIDE confidence in its argmax
    prediction (the empirical transition probability it would report)
    next to the TEST-SIDE hit rate it actually achieves, and their
    gap — positive means overconfident, negative underconfident. The
    one-line reliability diagram behind ``markov_backtest_hitrate``'s
    accuracy number: a model can be accurate AND badly calibrated,
    and serving layers that threshold on confidence need this, not
    the hit rate. Confidence is an exact count ratio (one division),
    so the gap is a fixed-shape difference of two such ratios.

    Scale: shares the session-cached (prev, nxt, side) rollup with
    the backtest — this query adds only joins over that O(|types|^2)
    frame."""
    roll = _backtest_roll(spark, sf_dir)
    train = roll.where(F.col("side") == "train")
    rk_w = Window.partitionBy("prev").orderBy(F.col("n").desc(), "nxt")
    model = (
        train.withColumn("rk", F.row_number().over(rk_w))
        .where(F.col("rk") == 1)
        .select(
            "prev",
            F.col("nxt").alias("pred_type"),
            F.col("n").alias("n_pred_train"),
        )
    )
    train_tot = train.groupBy("prev").agg(
        F.sum("n").cast("bigint").alias("n_train")
    )
    test_agg = (
        roll.where(F.col("side") == "test")
        .join(model.select("prev", "pred_type"), "prev")
        .groupBy("prev")
        .agg(
            F.sum("n").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.col("nxt") == F.col("pred_type"), F.col("n")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    conf = "CAST(n_pred_train AS DOUBLE) / n_train"
    hit = "CAST(n_hits AS DOUBLE) / n_test"
    return (
        test_agg.join(model, "prev")
        .join(train_tot, "prev")
        .select(
            F.col("prev").alias("event_type"),
            "pred_type",
            "n_train",
            "n_pred_train",
            F.expr(conf).alias("confidence"),
            "n_test",
            "n_hits",
            F.expr(hit).alias("hit_rate"),
            F.expr(f"{conf} - {hit}").alias("calibration_gap"),
        )
        .orderBy("event_type")
    )
