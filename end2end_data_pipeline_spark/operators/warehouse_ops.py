"""Partitioned-warehouse execution path + streaming replay parity —
the two driver-visible proofs VERDICT r6 asked for.

``warehouse_minute_dpp_extract`` reads the reference's MergeTree-style
minute-partitioned layout END-TO-END: the reference's one named
performance claim is partition-by-minute pruning
(``ARCHITECTURE.md:30``, ``db/clickhouse_table_schema.sql:15,19`` —
``PARTITION BY toStartOfMinute(event_timestamp)``). The engine's
analog (``sources/generator.py:write_warehouse``) was plan-tested but
no registry query exercised the layout; this one materializes a
day-slice of the driver ``events`` table into that layout, then joins
it to a runtime-filtered minute dimension so Spark plans a
**dynamicpruning** subquery on the partition column — at 100 TB the
fact scan reads only the joined minutes' directories, decided at
runtime from the dim side rather than from a literal predicate
(asserted in ``tests/test_plan_audit.py``).

``minute_counts_stream_replay`` is the driver-visible stream≡batch
parity proof (T1/T2): it runs the REAL Structured Streaming path —
file source → event-time 1-minute tumbling window → memory sink,
``availableNow`` drain — over a fixed day slice, and its oracle is the
same batch SQL the stream goldens assert against
(``streaming/pipeline.py:minutely_status_counts``; reference analog:
the minutely Airflow DAG ``airflow/dags/spark.py:17-46`` closing each
minute one minute late).

Both materializations happen once per (Spark application, sf_dir)
into the application's scratch dir and are kept in the session-state
registry (``sources/tables.py``) — the same lifecycle as
``operators/bucketed.py``. At 100 TB the warehouse write is the
one-time layout investment the reference makes in ClickHouse's
MergeTree; minute granularity is the reference's own choice (a real
deployment would size partitions to ~1 GB, e.g. hour/day + bucket).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.operators.event_analytics import (
    SESSION_GAP_MINUTES,
)
from end2end_data_pipeline_spark.registry import ORACLE, query
from end2end_data_pipeline_spark.sources.tables import (
    drain_to_memory,
    drained_table,
    frame_memo_tag,
    load_table,
    session_memo,
    session_scratch,
    sf_tag,
    stream_table,
)

# Fixed day-1 slice: every testdata SF spans 2024-01-01 .. 2024-01-30,
# so the literal is deterministic across scale factors (TESTDATA.md).
SLICE_START = "2024-01-01 00:00:00"
SLICE_END = "2024-01-02 00:00:00"
MINUTE_FMT = "yyyy-MM-dd_HH-mm"  # stays a STRING partition value
# (a "yyyy-MM-dd HH:mm" key would be re-inferred as timestamp on
# read-back, reopening the NTZ/timezone seam the engine closed in r4)

def _day1_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(
        (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
        & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
    )


def day1_minute_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per session+sf) the day-1 events slice in the
    reference's warehouse layout: PARTITION BY minute, rows clustered
    by event_type within partitions for row-group min/max skipping."""

    def build() -> str:
        path = session_scratch(
            spark, f"warehouse_{sf_tag(os.path.abspath(sf_dir))}"
        )
        (
            _day1_events(spark, sf_dir)
            .withColumn("minute_key", F.date_format("ts", MINUTE_FMT))
            .repartition("minute_key")
            .sortWithinPartitions("event_type")
            .write.mode("overwrite")
            .partitionBy("minute_key")
            .parquet(path)
        )
        return path

    return session_memo(
        spark,
        frame_memo_tag(sf_dir, "day1_minute_warehouse"),
        build,
        valid=os.path.isdir,
    )


@query(
    "warehouse_minute_dpp_extract",
    # The warehouse is a pure re-layout of the day-1 slice, so the
    # oracle computes the identical join/aggregate over the raw table.
    oracle="""
    WITH slice AS (
      SELECT strftime(ts, '%Y-%m-%d_%H-%M') AS minute_key, event_type, value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    ), dim AS (
      SELECT DISTINCT minute_key FROM slice WHERE event_type = 'purchase'
    )
    SELECT s.minute_key, s.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(round(s.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM slice s JOIN dim USING (minute_key)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def warehouse_minute_dpp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/S8 end-to-end + the reference's partition-pruning claim as a
    runtime property: per-minute activity for exactly the minutes in
    which a purchase occurred. The dim side is computed from the raw
    source at runtime (filter → distinct), so static pruning is
    impossible — the executed plan carries a ``dynamicpruning``
    subquery on ``minute_key`` and the fact scan touches only the
    matching partition directories."""
    # Schema pinned on read: inference over a partitioned layout is an
    # antipattern at scale (one extra listing+footer pass) and fails
    # outright on an empty slice (no files to infer from).
    layout_schema = (
        _day1_events(spark, sf_dir)
        .withColumn("minute_key", F.date_format("ts", MINUTE_FMT))
        .schema
    )
    fact = spark.read.schema(layout_schema).parquet(
        day1_minute_warehouse(spark, sf_dir)
    )
    dim = (
        _day1_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(F.date_format("ts", MINUTE_FMT).alias("minute_key"))
        .distinct()
    )
    return (
        fact.join(dim, "minute_key")
        .groupBy("minute_key", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("minute_key", "event_type")
    )


def _minute_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-1 per-type counts per event-time minute, as a stream."""
    return (
        stream_table(spark, sf_dir, "events")
        .where(
            (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
            & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
        )
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "minute_counts_stream_replay",
    # Same SQL shape the stream goldens assert against: the batch
    # minutely rollup IS the oracle for the streaming computation.
    oracle="""
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d_%H-%M')
             AS event_minute,
           event_type,
           count(*) AS n
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def minute_counts_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2 driver-visible parity: the minutely per-type rollup
    computed BY THE STREAMING ENGINE — file source, event-time
    1-minute tumbling window, complete-mode memory sink, availableNow
    drain — must hash-match the batch SQL oracle. Complete mode (not
    append) because a drained bounded source never advances the
    watermark past its last windows; the full-result output mode is
    the deterministic replay form. State here is bounded by the day
    slice; the unbounded-production form adds ``withWatermark`` and
    append mode (``streaming/pipeline.py:68``, golden-tested)."""
    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "minute_counts_stream_replay"),
            "minute_counts_stream_replay",
            lambda: _minute_counts_stream(spark, sf_dir),
            "complete",
        )
        .select(
            F.date_format(F.col("w.start"), MINUTE_FMT).alias("event_minute"),
            "event_type",
            "n",
        )
        .orderBy("event_minute", "event_type")
    )


@query(
    "state_store_audit",
    # IDENTICAL oracle to the tumbling replay: the truth read from the
    # engine's INTERNAL state files must match the batch SQL exactly.
    oracle=ORACLE["minute_counts_stream_replay"],
)
def state_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store introspection (Spark 4 ``statestore`` batch source):
    run the day-1 tumbling minute aggregation on the streaming engine,
    then read the aggregation operator's STATE FILES out of the
    checkpoint as a batch DataFrame and hash-match them against the
    batch oracle — the ops surface for answering 'what is my streaming
    job holding in state right now' (state debugging, size audits,
    state migration) without touching the sink.

    Scale: the state source reads the per-partition state files
    distributed (one task per state partition) — exactly how the
    engine itself loads them; no driver-side checkpoint walk. The
    audit certifies sink-vs-state consistency: a lost state partition
    or a misrouted key shows up as a hash mismatch here even if the
    sink looks plausible."""
    ckpt = session_memo(
        spark,
        frame_memo_tag(sf_dir, "state_store_audit"),
        lambda: session_scratch(
            spark,
            drain_to_memory(
                spark,
                "state_store_audit",
                _minute_counts_stream(spark, sf_dir),
                "complete",
            ),
        ),
        valid=os.path.isdir,
    )
    state = spark.read.format("statestore").load(ckpt)
    # the state key normalizes the grouping columns to (window,
    # event_type) regardless of plan-side aliases
    return state.select(
        F.date_format(F.col("key.window.start"), MINUTE_FMT).alias(
            "event_minute"
        ),
        F.col("key.event_type").alias("event_type"),
        # the value struct exposes the physical aggregation buffer
        # (named for the aggregate function), not plan-side aliases
        F.col("value.count").alias("n"),
    ).orderBy("event_minute", "event_type")


SESSION_REPLAY_GAP = f"{SESSION_GAP_MINUTES} minutes"


@query(
    "session_window_stream_replay",
    # Boundary semantics pinned to Spark's session_window: an event
    # at EXACTLY last_ts + gap still MERGES (inclusive boundary —
    # verified by the degenerate-fixture test in
    # tests/test_r7_operators.py), so the oracle opens a new session
    # only at d > gap — the same convention as the batch lag-SQL
    # sessionization family.
    oracle=f"""
    WITH slice AS (
      SELECT user_id, ts, event_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    ), gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM slice
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS sid
      FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def session_window_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 driver-visible parity: per-user gap sessions computed BY THE
    STREAMING ENGINE — file source, ``session_window`` stateful
    aggregation, complete-mode memory sink, availableNow drain — must
    hash-match the batch lag-SQL sessionization. The second replay
    proof after ``minute_counts_stream_replay``, covering the MERGING
    window state (session windows grow and coalesce as events arrive)
    rather than fixed tumbling buckets. Timestamps format to whole
    seconds only at the output boundary; the session identity is
    min/max event time, microsecond-exact in both engines.

    Scale: streaming state is one (user, open-session) entry per
    active user, evicted by the watermark in the production append
    form (``streaming/pipeline.py:sessionized_counts``); the bounded
    day-slice replay holds state for the slice only."""

    def build() -> DataFrame:
        stream = stream_table(spark, sf_dir, "events")
        return (
            stream.where(
                (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
                & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
            )
            .groupBy(
                F.session_window("ts", SESSION_REPLAY_GAP).alias("s"),
                "user_id",
            )
            .agg(F.count("*").alias("n_events"))
        )

    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "session_window_stream_replay"),
            "session_window_stream_replay",
            build,
            "complete",
        )
        .select(
            "user_id",
            F.date_format(F.col("s.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("s.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    # IDENTICAL oracle to the batch windowed-dedup rollup: the
    # streaming engine's survivor counts must match the batch
    # keep-first exactly.
    "event_dedup_stream_replay",
    oracle=ORACLE["event_dedup_within_window"],
)
def event_dedup_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 driver-visible parity: the windowed dedup computed BY THE
    STREAMING ENGINE — file source, per-row bucket derivation,
    streaming ``dropDuplicates`` on (user, type, 10-minute bucket),
    append-mode memory sink, availableNow drain — must reproduce the
    batch keep-first rollup (``event_dedup_within_window``). Survivor
    IDENTITY within a key is arrival-order-dependent in a streaming
    dedup, so the shared oracle hashes the order-invariant facts: per
    type, total events in vs distinct keys out.

    The replay pins plain ``dropDuplicates`` (state never evicted →
    deterministic across any micro-batch split of the bounded
    fixture); an unbounded stream would need
    ``dropDuplicatesWithinWatermark`` to bound its state, and the
    eviction that brings is a liveness tradeoff the bounded replay does
    not need."""

    def build() -> DataFrame:
        kept = (
            stream_table(spark, sf_dir, "events")
            .withColumn(
                "bucket", F.floor(F.unix_timestamp("ts") / 600).cast("bigint")
            )
            .dropDuplicates(["user_id", "event_type", "bucket"])
        )
        return kept.select("event_type", "user_id", "bucket")

    survivors = (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "event_dedup_stream_replay"),
            "event_dedup_stream_replay",
            build,
            "append",
        )
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )
    totals = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_total"))
    )
    return (
        totals.join(survivors, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (
                F.coalesce("n_kept", F.lit(0))
                / F.col("n_total").cast("double")
            ).alias("keep_ratio"),
        )
        .orderBy("event_type")
    )


@query(
    "sliding_window_stream_replay",
    # Same two-staggered-tumbling-grids construction the batch
    # ``event_sliding_window_counts`` oracle uses, restricted to the
    # day-1 replay slice: every event lands in exactly window/slide = 2
    # overlapping windows.
    oracle="""
    WITH slice AS (
      SELECT ts, event_type FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    ), grid AS (
      SELECT to_timestamp(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT)) AS ws,
             event_type
      FROM slice
      UNION ALL
      SELECT to_timestamp(CAST(floor((epoch(ts) - 300) / 600) * 600 + 300
                               AS BIGINT)),
             event_type
      FROM slice
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n_events
    FROM grid
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
)
def sliding_window_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T2 sliding-window parity: overlapping 10-minute windows
    sliding every 5, computed BY THE STREAMING ENGINE — file source,
    ``window(ts, '10 minutes', '5 minutes')`` event-time aggregation,
    complete-mode memory sink, availableNow drain. Completes the
    window-type replay matrix (tumbling ``minute_counts_stream_replay``,
    session ``session_window_stream_replay``, now sliding) against the
    same batch oracle construction as ``event_sliding_window_counts``.

    Scale: the slide expansion multiplies state by window/slide (a
    planner-visible constant, 2 here); streaming state is O(open
    windows x types). Complete mode is the bounded-replay form — the
    unbounded-production form adds ``withWatermark`` + append mode so
    closed windows evict (``streaming/pipeline.py``, golden-tested)."""

    def build() -> DataFrame:
        stream = stream_table(spark, sf_dir, "events")
        return (
            stream.where(
                (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
                & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
            )
            .groupBy(
                F.window("ts", "10 minutes", "5 minutes").alias("w"),
                "event_type",
            )
            .agg(F.count("*").alias("n_events"))
        )

    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "sliding_window_stream_replay"),
            "sliding_window_stream_replay",
            build,
            "complete",
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "enrich_stream_static_replay",
    # The testdata's user_id domain embeds in c_custkey at every SF,
    # but the oracle makes no density assumption: both sides are the
    # same inner join, so an unmatched user drops identically.
    oracle="""
    SELECT c.c_mktsegment AS mktsegment, e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND e.ts <  TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def enrich_stream_static_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment parity: the event stream joined to the
    STATIC customer dimension (broadcast per micro-batch — the
    standard fact-stream x dim-table enrichment) then aggregated by
    (segment, type), computed BY THE STREAMING ENGINE and hash-matched
    against the batch join. Completes the streaming-join matrix:
    stream-stream (``view_purchase_stream_join_replay``) and now
    stream-static.

    Scale: the dim side is a plain batch DataFrame — Spark re-plans it
    into each micro-batch as a broadcast hash join, so the stream side
    never shuffles for the join; state is only the O(segments x types)
    aggregation. A dim too big to broadcast would bucket both sides
    instead (``operators/bucketed.py`` pattern)."""

    def build() -> DataFrame:
        dim = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        stream = stream_table(spark, sf_dir, "events")
        return (
            stream.where(
                (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
                & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
            )
            .join(F.broadcast(dim), "user_id")
            .groupBy("mktsegment", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("value_cents"),
            )
        )

    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "enrich_stream_static_replay"),
            "enrich_stream_static_replay",
            build,
            "complete",
        )
        .select("mktsegment", "event_type", "n_events", "value_cents")
        .orderBy("mktsegment", "event_type")
    )


@query(
    "upsert_sink_stream_replay",
    # Latest-per-user is an argmax: merging per-batch argmaxes is
    # commutative/associative, so the final table is deterministic
    # under ANY micro-batch split of the bounded source.
    oracle="""
    WITH slice AS (
      SELECT user_id, event_id, event_type, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts <  TIMESTAMP '2024-01-02 00:00:00'
    ), ranked AS (
      SELECT user_id, event_id, event_type, ts,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM slice
    )
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
    FROM ranked WHERE rn = 1 ORDER BY user_id
    """,
)
def upsert_sink_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert sink (``foreachBatch`` + conditional MERGE):
    each micro-batch's latest-per-user rows merge into a versioned
    parquet snapshot — the snapshot row survives unless the change is
    NEWER (the ``MERGE WHEN MATCHED AND s.ts < c.ts`` shape, realized
    as an argmax over snapshot ∪ batch). The materialized-view-from-
    a-change-feed pattern every CDC warehouse runs; this replay makes
    the golden-tested foreachBatch path driver-visible.

    Exactly-once: versions are keyed by batch id (a replayed batch
    overwrites its own deterministic directory, then re-points the
    _CURRENT pointer — both idempotent), matching the checkpoint
    contract. ``maxFilesPerTrigger=1`` forces a real multi-batch run
    on directory-layout fixtures. Scale: each batch shuffles only
    itself plus the O(users) snapshot; the argmax-merge never rereads
    history."""

    def build() -> str:
        base = session_scratch(
            spark, f"upsert_sink_{sf_tag(os.path.abspath(sf_dir))}"
        )
        os.makedirs(base, exist_ok=True)
        pointer = os.path.join(base, "_CURRENT")

        def _latest(df: DataFrame) -> DataFrame:
            from pyspark.sql.window import Window

            w = Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            return (
                df.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .drop("rn")
            )

        def _emit(batch_df: DataFrame, batch_id: int) -> None:
            cols = ["user_id", "event_id", "event_type", "ts"]
            merged = _latest(batch_df.select(*cols))
            if os.path.isfile(pointer):
                with open(pointer) as fh:
                    cur = fh.read().strip()
                snap = spark.read.parquet(os.path.join(base, cur))
                merged = _latest(snap.unionByName(merged))
            vdir = f"v{batch_id}"
            merged.write.mode("overwrite").parquet(os.path.join(base, vdir))
            tmp = pointer + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(vdir)
            os.replace(tmp, pointer)  # atomic re-point

        stream = stream_table(spark, sf_dir, "events").where(
            (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
            & (F.col("ts") < F.lit(SLICE_END).cast("timestamp"))
        )
        q = (
            stream.writeStream.foreachBatch(_emit)
            .option("checkpointLocation", os.path.join(base, "_checkpoint"))
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return base

    base = session_memo(
        spark,
        frame_memo_tag(sf_dir, "upsert_sink_stream_replay"),
        build,
        valid=os.path.isdir,
    )
    pointer = os.path.join(base, "_CURRENT")
    if not os.path.isfile(pointer):  # empty source -> no batch ran
        return spark.createDataFrame(
            [], "user_id long, event_id long, event_type string, ts string"
        )
    with open(pointer) as fh:
        cur = fh.read().strip()
    final = spark.read.parquet(os.path.join(base, cur))
    return final.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
    ).orderBy("user_id")


# Hour-1 slice for the compaction audit: small enough that the
# deliberately fragmented fixture stays cheap (≤60 minute partitions),
# real enough to exercise the per-partition swap protocol end to end.
COMPACT_SLICE_END = "2024-01-01 01:00:00"
COMPACT_WRITE_FILES = 3  # files per partition BEFORE compaction


def _fragmented_warehouse(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per session+sf) an hour-1 minute-partitioned
    warehouse written DELIBERATELY fragmented (repartition(3) inside
    each minute), then bin-pack it with ``compact_warehouse`` at a
    target that merges each partition to one file."""
    from end2end_data_pipeline_spark.sources.compaction import (
        compact_warehouse,
    )


    def build() -> str:
        path = session_scratch(
            spark, f"compact_{sf_tag(os.path.abspath(sf_dir))}"
        )
        ev = load_table(spark, sf_dir, "events").where(
            (F.col("ts") >= F.lit(SLICE_START).cast("timestamp"))
            & (F.col("ts") < F.lit(COMPACT_SLICE_END).cast("timestamp"))
        )
        (
            ev.withColumn("minute_key", F.date_format("ts", MINUTE_FMT))
            .repartition(COMPACT_WRITE_FILES)
            .write.mode("overwrite")
            .partitionBy("minute_key")
            .parquet(path)
        )
        compact_warehouse(
            spark, path, target_bytes=1 << 30, partition_col="minute_key"
        )
        return path

    return session_memo(
        spark,
        frame_memo_tag(sf_dir, "fragmented_warehouse"),
        build,
        valid=os.path.isdir,
    )


@query(
    "warehouse_compaction_audit",
    # The compacted warehouse is a pure re-layout: every per-minute
    # rollup must match raw SQL over events, and the bin-pack target
    # (1 GiB >> any partition) forces exactly ONE file per partition —
    # a literal the oracle can assert.
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d_%H-%M') AS minute_key,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           CAST(1 AS BIGINT) AS n_files
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-01 01:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def warehouse_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-file compactor (``sources/compaction.py`` — Delta/
    Iceberg-style bin-packing with atomic staging-dir swap) made
    driver-visible: an hour slice is written THREE files per minute
    partition, compacted to the 1-file-per-partition bin-pack, then
    audited — per-minute row counts and exact cent sums must match raw
    SQL over ``events`` (compaction moved every row, dropped none,
    corrupted nothing) and ``n_files`` (a DISTRIBUTED
    ``_metadata.file_path`` distinct-count, no driver directory walk)
    must be exactly 1 everywhere, proving the bin-pack actually
    happened. The swap protocol's crash-safety (staging leftovers fail
    fast, old copy preserved) is unit-tested in
    ``tests/test_compaction.py``; this query is the value-preservation
    proof at the registry gate."""
    path = _fragmented_warehouse(spark, sf_dir)
    layout_schema = (
        load_table(spark, sf_dir, "events")
        .withColumn("minute_key", F.date_format("ts", MINUTE_FMT))
        .schema
    )
    wh = spark.read.schema(layout_schema).parquet(path)
    return (
        wh.groupBy("minute_key")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
            F.countDistinct(F.col("_metadata.file_path")).cast("bigint")
            .alias("n_files"),
        )
        .orderBy("minute_key")
    )


@query(
    "view_purchase_stream_join_replay",
    # Naive inequality self-join as the oracle, native-precision
    # timestamp arithmetic on both engines (the join condition is
    # microsecond-exact; only the reported gap is floored to ms).
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(epoch_ms(p.ts) - epoch_ms(v.ts)), 0) AS BIGINT)
             AS total_gap_ms,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 15 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def view_purchase_stream_join_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The watermarked STREAM-STREAM join made driver-visible: views
    and purchases arrive as two streams over the same events source,
    join on user within a 15-minute band
    (``streaming/joins.py:purchases_after_views`` — the exact
    production operator, not a replica), drain into an append memory
    sink, and the match rollup must hash-match the naive batch
    inequality join. Covers the join-state machinery (two buffered
    sides, band condition) that the tumbling/session/dedup replays
    don't touch.

    Determinism: the replay passes a watermark far past the fixture's
    span, so no join state is ever evicted mid-drain and every match
    is emitted regardless of how the file source splits batches; the
    production form's tight watermark (bounded state, late data
    dropped) is golden-tested in ``tests/test_streaming_joins.py``."""
    from end2end_data_pipeline_spark.streaming.joins import (
        purchases_after_views,
    )


    def build() -> DataFrame:
        stream = stream_table(spark, sf_dir, "events")
        return purchases_after_views(
            stream.where(F.col("event_type") == "view"),
            stream.where(F.col("event_type") == "purchase"),
            within="15 minutes",
            watermark="60 days",  # fixture spans 30 days: never evict
            ts_col="ts",
        )

    return drained_table(
        spark,
        frame_memo_tag(sf_dir, "view_purchase_stream_join_replay"),
        "view_purchase_join_replay",
        build,
        "append",
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("gap_ms"), F.lit(0)).cast("bigint").alias(
            "total_gap_ms"
        ),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# Outer-join flush sentinels: rows typed to PASS the view/purchase
# filters (a watermark node only sees its own filtered stream, so an
# untyped heartbeat would never advance either watermark), far-future
# so they bound no real data, negative-keyed so the rollup excludes
# them. TWO files because eviction runs one batch BEHIND the watermark
# advance: the batch processing sentinel k evicts with the watermark
# batch k-1 established.
OUTER_SENTINEL_TS = ("2099-01-01 00:00:00", "2099-01-02 00:00:00")


def _outer_join_feed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once per session+sf) the outer-join replay feed:
    the events table as ONE data file plus two typed sentinel files
    with strictly increasing mtimes, so ``maxFilesPerTrigger=1``
    yields exactly three micro-batches — all real data in batch 1 (no
    event-time disorder can cross a batch boundary, so the tight
    production watermark drops nothing), then two watermark-advancing
    batches that flush every unmatched view out of join state."""
    import glob as globmod
    import shutil
    import time


    def build() -> str:
        name = f"outer_feed_{sf_tag(os.path.abspath(sf_dir))}"
        path = session_scratch(spark, name)
        ev = load_table(spark, sf_dir, "events")
        ev.coalesce(1).write.mode("overwrite").parquet(path)
        now = time.time()
        for f in globmod.glob(os.path.join(path, "part-*.parquet")):
            os.utime(f, (now - 100, now - 100))
        for i, ts in enumerate(OUTER_SENTINEL_TS):
            sentinel = spark.createDataFrame(
                [
                    (-(2 * i + 1), ts, -1, "view", None, None),
                    (-(2 * i + 2), ts, -2, "purchase", None, None),
                ],
                "event_id long, ts string, user_id long, event_type string,"
                " value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            staging = session_scratch(spark, f"{name}_sentinel_{i}")
            sentinel.coalesce(1).write.mode("overwrite").parquet(staging)
            [src] = globmod.glob(os.path.join(staging, "part-*.parquet"))
            dst = os.path.join(path, f"zz-sentinel-{i}.parquet")
            shutil.copy(src, dst)
            shutil.rmtree(staging, ignore_errors=True)
            mtime = now - 50 + 40 * i
            os.utime(dst, (mtime, mtime))
        return path

    return session_memo(
        spark,
        frame_memo_tag(sf_dir, "outer_join_feed"),
        build,
        valid=os.path.isdir,
    )


@query(
    "abandoned_views_stream_replay",
    # Batch LEFT JOIN as the oracle: same multiplicity contract as the
    # streaming outer join — one row per (view, matching purchase),
    # one NULL row per never-matched view.
    oracle="""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts FROM events
      WHERE event_type = 'view'
    ), p AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT v.view_id, v.user_id, p.purchase_id
      FROM v LEFT JOIN p ON v.user_id = p.user_id
        AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 15 MINUTE
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(purchase_id) AS BIGINT) AS n_matched_pairs,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_abandoned_views,
           CAST(COUNT(DISTINCT CASE WHEN purchase_id IS NOT NULL
             THEN view_id END) AS BIGINT) AS n_converted_views,
           CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
               AS DOUBLE)
             / CAST(COUNT(DISTINCT view_id) AS DOUBLE) AS abandoned_share
    FROM j HAVING COUNT(DISTINCT view_id) > 0
    """,
)
def abandoned_views_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The watermarked stream-stream LEFT OUTER join made
    driver-visible: the abandonment feed
    (``streaming/joins.py:views_without_purchase`` — the exact
    production operator) emits every view matched to a following
    purchase within 15 minutes when one exists, and a NULL row once
    the watermark PROVES none can still arrive. Null emission is the
    part no batch replay can fake: an unmatched view leaves join
    state only when event time passes view_ts + 15 min + the
    watermark delay, so the replay feed appends two far-future
    sentinel batches (``_outer_join_feed``) that advance the
    watermark past all real data and flush every verdict out —
    the same event-time-closure trick a production pipeline's
    heartbeat topic performs for a quiet source.

    Unlike the inner replay (60-day never-evict watermark), this one
    runs the TIGHT production watermark (1 minute): all real data
    arrives in micro-batch 1 (single data file), so nothing is ever
    late, and the sentinel batches exercise the real eviction path.
    The rollup excludes the negative-keyed sentinels and must
    hash-match the batch LEFT JOIN, null rows included.

    Scale: join state holds O(watermark + 15 min) of events per side,
    not the stream; the memory-sink rollup is O(matches). At 100 TB
    the same plan runs against Kafka sources with the broker's real
    heartbeats advancing the watermark."""
    from end2end_data_pipeline_spark.streaming.joins import (
        views_without_purchase,
    )


    def build() -> str:
        feed = _outer_join_feed(spark, sf_dir)
        schema = spark.read.parquet(feed).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(feed)
        )
        out = views_without_purchase(
            stream.where(F.col("event_type") == "view"),
            stream.where(F.col("event_type") == "purchase"),
            within="15 minutes",
            watermark="1 minute",
            ts_col="ts",
        )
        # Stream-stream joins instantiate FOUR state stores per shuffle
        # partition per micro-batch; a plain session's 200 partitions
        # turn this replay's three micro-batches into thousands of
        # near-empty store open/commit cycles. Pin the streaming
        # query's state partitioning to a fixture-sized count (frozen
        # into the checkpoint at first run — a production job sizes
        # this to its source) and restore the session conf after the
        # drain.
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            return drain_to_memory(
                spark, "abandoned_views_replay", out, "append"
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    table = session_memo(
        spark,
        frame_memo_tag(sf_dir, "abandoned_views_stream_replay"),
        build,
        valid=spark.catalog.tableExists,
    )
    sink = spark.table(table).where(F.col("user_id") >= 0)
    return (
        sink.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("converted").cast("bigint").alias("n_matched_pairs"),
            F.sum(1 - F.col("converted")).cast("bigint").alias(
                "n_abandoned_views"
            ),
            F.countDistinct(
                F.when(F.col("converted") == 1, F.col("view_id"))
            )
            .cast("bigint")
            .alias("n_converted_views"),
            F.countDistinct("view_id").cast("bigint").alias("n_views"),
        )
        .filter(F.col("n_views") > 0)
        .withColumn(
            "abandoned_share",
            F.col("n_abandoned_views").cast("double")
            / F.col("n_views").cast("double"),
        )
    )


@query(
    # IDENTICAL oracle to the batch gaps-and-islands twin: the custom
    # stateful operator must fire the same alerts at the same instants.
    "error_streak_stream_replay",
    oracle=ORACLE["event_error_streaks"],
)
def error_streak_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator (§2.8's one sanctioned Python
    state machine — ``applyInPandasWithState`` streak tracking,
    ``streaming/stateful.py:error_streak_alerts``) run on the real
    streaming engine against the driver events table and hash-matched
    against the batch gaps-and-islands query: every (user, instant,
    streak=threshold) alert must agree exactly. ``event_id`` rides as
    the tie-break column so same-timestamp ordering is pinned to the
    batch window's, not to shuffle arrival order.

    Determinism: the availableNow drain delivers the bounded fixture
    in one micro-batch, so each user's whole history is sorted once in
    the worker — the strict-ordering caveat documented on the operator
    (production pairs a watermark with small triggers, golden-tested
    in ``tests/test_stateful_streaming.py``)."""
    from end2end_data_pipeline_spark.streaming.stateful import (
        error_streak_alerts,
    )


    def build() -> DataFrame:
        stream = stream_table(spark, sf_dir, "events").withColumn(
            "user_id", F.col("user_id").cast("string")
        )
        return error_streak_alerts(
            stream,
            ts_col="ts",
            error_predicate="event_type = 'error'",
            watermark="60 days",  # bounded replay: never close groups early
            tiebreak_col="event_id",
        )

    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "error_streak_stream_replay"),
            "error_streak_replay",
            build,
            "append",
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.unix_millis("alert_ts").alias("alert_ms"),
            F.col("streak").cast("int").alias("streak"),
        )
        .orderBy("user_id", "alert_ms")
    )


@query(
    # IDENTICAL oracle to the batch groupBy-min twin: the new-entity
    # detector must announce every user exactly once with the exact
    # earliest timestamp.
    "first_seen_stream_replay",
    oracle=ORACLE["first_seen_users_batch"],
)
def first_seen_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful new-entity detector
    (``streaming/stateful.py:first_seen_users``,
    ``applyInPandasWithState`` with an announce-once state flag) run on
    the real streaming engine and hash-matched against the batch
    groupBy-min basis: one row per user, microsecond-exact earliest
    event time, no duplicate announcements. The availableNow drain
    delivers the bounded fixture in one micro-batch, so the operator's
    AT-FIRST-BATCH contract coincides with the exact minimum (the
    out-of-order divergence is pinned separately in
    ``tests/test_stateful_streaming.py``)."""
    from end2end_data_pipeline_spark.streaming.stateful import (
        first_seen_users,
    )


    def build() -> DataFrame:
        stream = stream_table(spark, sf_dir, "events").withColumn(
            "user_id", F.col("user_id").cast("string")
        )
        return first_seen_users(stream, ts_col="ts", watermark="60 days")

    return (
        drained_table(
            spark,
            frame_memo_tag(sf_dir, "first_seen_stream_replay"),
            "first_seen_replay",
            build,
            "append",
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "first_ts"
            ),
        )
        .orderBy("user_id")
    )


def merge_upsert(
    snapshot: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Delta-style MERGE INTO, engine-level: ``changes`` carries an
    ``op`` column (``'upsert'`` = insert-or-replace full row,
    ``'delete'`` = remove by key) beside the snapshot's columns. The
    new snapshot is (snapshot ANTI-JOIN changed-keys) UNION upsert
    rows — one key-set anti-join plus an append, the standard CDC
    apply shape. The changed-key side is BROADCAST: a changeset is
    ~daily-delta-sized while the snapshot is the corpus, so at 100 TB
    the snapshot never shuffles (rewriting only affected partitions is
    the file-level refinement a table format adds on top; the logical
    plan is this one either way)."""
    payload = [c for c in changes.columns if c != "op"]
    changed_keys = F.broadcast(changes.select(*key_cols).distinct())
    kept = snapshot.join(changed_keys, key_cols, "left_anti")
    upserts = changes.where(F.col("op") == "upsert").select(*payload)
    return kept.unionByName(upserts)


MERGE_INS_OFFSET = 10_000_000


@query(
    "docs_merge_upsert_profile",
    # The oracle re-derives the post-merge state ARITHMETICALLY (the
    # changeset below is a pure function of doc_id), so a hash match
    # proves the generic merge operator applied exactly the right
    # rows: deletes removed, upserts replaced, inserts appended, and
    # nothing else touched.
    oracle=f"""
    WITH merged AS (
      SELECT lang,
             CASE WHEN doc_id % 7 = 3 THEN n_chars + 6
                  ELSE n_chars END AS n_chars,
             CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS is_rev
      FROM documents WHERE doc_id % 11 <> 5
      UNION ALL
      SELECT lang, n_chars, 0 FROM documents WHERE doc_id % 13 = 1
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_nchars,
           CAST(SUM(is_rev) AS BIGINT) AS n_revised
    FROM merged GROUP BY lang ORDER BY lang
    """,
)
def docs_merge_upsert_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply through the generic ``merge_upsert`` operator: a
    deterministic changeset derived from the corpus itself — updates
    (doc_id ≡ 3 mod 7: text gains a ``' [rev]'`` suffix, n_chars +6),
    deletes (≡ 5 mod 11, taking precedence over updates), inserts
    (clones of ≡ 1 mod 13 rekeyed past {MERGE_INS_OFFSET}) — is merged
    into the documents snapshot, and the post-merge per-lang profile
    (counts, n_chars sums, revised-row count via the suffix) must
    match the oracle's arithmetic re-derivation. This is the missing
    piece between the SCD-2 interval build (``user_value_intervals``)
    and the small-file compactor: the row-level upsert a warehouse
    applies between layout passes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    upd = docs.where(
        (F.col("doc_id") % 7 == 3) & (F.col("doc_id") % 11 != 5)
    ).select(
        F.lit("upsert").alias("op"),
        "doc_id",
        # coalesce: a NULL-text doc still takes the revision suffix
        # (DuckDB-side the rev flag is doc_id arithmetic, so the
        # engines must agree on NULL text too — r13 null-flood sweep)
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev]")).alias("text"),
        "lang",
        (F.col("n_chars") + 6).alias("n_chars"),
    )
    ins = docs.where(F.col("doc_id") % 13 == 1).select(
        F.lit("upsert").alias("op"),
        (F.col("doc_id") + MERGE_INS_OFFSET).alias("doc_id"),
        "text",
        "lang",
        "n_chars",
    )
    dels = docs.where(F.col("doc_id") % 11 == 5).select(
        F.lit("delete").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        "lang",
        F.lit(None).cast("bigint").alias("n_chars"),
    )
    changes = upd.unionByName(ins).unionByName(dels)
    merged = merge_upsert(docs, changes, ["doc_id"])
    return (
        merged.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_nchars"),
            F.sum(
                F.when(F.col("text").endswith(" [rev]"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_revised"),
        )
        .orderBy("lang")
    )


docs_merge_upsert_profile.__doc__ = docs_merge_upsert_profile.__doc__.replace(
    "{MERGE_INS_OFFSET}", str(MERGE_INS_OFFSET)
)
