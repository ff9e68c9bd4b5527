"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API)
— the reference's synthetic event producer re-expressed as a
first-class pluggable SOURCE instead of a driver loop.

The reference generates events in a Python produce loop
(``producer/producer.py``); the engine's S1/S2 analog
(``sources/generator.py``) builds frames from ``spark.range``. This
module goes one step further down the Spark-4 integration ladder: a
``DataSource`` subclass whose reader plans N range partitions and
generates each slice INSIDE the executors' Python workers — the
extension point a team uses to mount any bespoke feed (internal APIs,
custom binary logs) as a real ``spark.read.format(...)`` source with
partition-parallel scan semantics.

Every generated field is a pure function of the row index through the
engine's portable 60-bit md5 hash (``functions/texthash.py``), so the
DuckDB oracle regenerates the identical rows arithmetically from
``range(N)`` — the parity proof covers the full loop: Python planning,
executor-side generation, Arrow transport, and aggregation.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.registry import ORACLE, query
from end2end_data_pipeline_spark.sources.tables import (
    drained_table,
    session_memo,
)

SYNTH_N_ROWS = 10_000
SYNTH_N_PARTS = 8
SYNTH_N_USERS = 1_000
SYNTH_VALUE_MOD = 100_000  # value in integer cents
SYNTH_TYPES = ("view", "click", "purchase", "error")


def _pmd5(s: str) -> int:
    """Python twin of the portable 60-bit hash (md5 -> first 15 hex
    digits -> int); equals texthash.md5h on both engines."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def synth_row(i: int) -> tuple[int, int, str, int]:
    """Row i of the synthetic feed — shared by the executor-side
    reader and (as SQL arithmetic) the oracle."""
    user_id = _pmd5(f"ev:{i}") % SYNTH_N_USERS
    etype = SYNTH_TYPES[_pmd5(f"ty:{i}") % len(SYNTH_TYPES)]
    cents = _pmd5(f"va:{i}") % SYNTH_VALUE_MOD
    return (i, user_id, etype, cents)


def _register_source(spark: SparkSession) -> None:
    """Register the ``synthevents`` source once per application."""
    session_memo(
        spark,
        "synthevents_source",
        lambda: spark.dataSource.register(_make_datasource()),
    )


def _make_datasource():
    """Build the DataSource subclass lazily (keeps the module import
    safe if the datasource API ever moves)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
        SimpleDataSourceStreamReader,
    )

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SynthEventsReader(DataSourceReader):
        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", SYNTH_N_ROWS))
            self.n_parts = int(options.get("n_parts", SYNTH_N_PARTS))

        def partitions(self):
            step = max(1, -(-self.n_rows // self.n_parts))
            return [
                _RangePartition(lo, min(lo + step, self.n_rows))
                for lo in range(0, self.n_rows, step)
            ] or [_RangePartition(0, 0)]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield synth_row(i)

    class SynthEventsStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked stream form of the same feed. ``availableNow``
        drains exactly what one ``read()`` hands back, so the bounded
        feed returns its remaining range in a single call; an unbounded
        deployment would return a chunk per trigger instead."""

        def __init__(self, options):
            self.n_rows = int(options.get("n_rows", SYNTH_N_ROWS))

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            # materialized list, not a generator: the simple-reader
            # protocol PICKLES the prefetched rows for replay
            s = int(start["i"])
            rows = [synth_row(i) for i in range(s, self.n_rows)]
            return (rows, {"i": self.n_rows})

        def readBetweenOffsets(self, start, end):
            return [
                synth_row(i) for i in range(int(start["i"]), int(end["i"]))
            ]

    class SynthEventsDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthevents"

        def schema(self):
            return (
                "event_id bigint, user_id bigint, event_type string, "
                "value_cents bigint"
            )

        def reader(self, schema):
            return SynthEventsReader(self.options)

        def simpleStreamReader(self, schema):
            return SynthEventsStreamReader(self.options)

    return SynthEventsDataSource


def _duck_rows_sql(n_rows: int) -> str:
    h = "(('0x' || substr(md5({s}),1,15))::BIGINT)"
    ev = h.format(s="'ev:' || i")
    ty = h.format(s="'ty:' || i")
    va = h.format(s="'va:' || i")
    cases = " ".join(
        f"WHEN {j} THEN '{t}'" for j, t in enumerate(SYNTH_TYPES)
    )
    return f"""
    SELECT i AS event_id,
           {ev} % {SYNTH_N_USERS} AS user_id,
           CASE {ty} % {len(SYNTH_TYPES)} {cases} END AS event_type,
           {va} % {SYNTH_VALUE_MOD} AS value_cents
    FROM range(0, {n_rows}) t(i)
    """


@query(
    "python_datasource_parity",
    oracle=f"""
    WITH rows_ AS ({_duck_rows_sql(SYNTH_N_ROWS)})
    SELECT event_type,
           count(*) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(value_cents) AS BIGINT) AS sum_cents,
           min(user_id) AS min_user,
           max(user_id) AS max_user
    FROM rows_ GROUP BY event_type ORDER BY event_type
    """,
)
def python_datasource_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 through Spark 4's Python DataSource API: the synthetic
    event feed mounted as ``spark.read.format('synthevents')`` — the
    reader plans {SYNTH_N_PARTS} range partitions, each executor
    Python worker generates its slice, and the per-type rollup must
    hash-match the oracle's arithmetic regeneration of the same rows
    from ``range(N)``. Fixture-scale-independent like the image/audio
    parity tiers (the feed is the source, not the tables).

    Scale: generation cost is O(rows / partitions) per worker with no
    driver involvement past planning; the same class mounts any
    bespoke feed with real partition parallelism. Value stays integer
    cents end to end — no float crosses the hash boundary."""
    _register_source(spark)
    feed = (
        spark.read.format("synthevents")
        .option("n_rows", SYNTH_N_ROWS)
        .option("n_parts", SYNTH_N_PARTS)
        .load()
    )
    return (
        feed.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("value_cents").cast("bigint").alias("sum_cents"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("event_type")
    )


python_datasource_parity.__doc__ = python_datasource_parity.__doc__.replace(
    "{SYNTH_N_PARTS}", str(SYNTH_N_PARTS)
)


@query(
    "python_datasource_stream_parity",
    # IDENTICAL oracle to the batch parity: the stream drain of the
    # same custom source must aggregate to the same rows.
    oracle=ORACLE["python_datasource_parity"],
)
def python_datasource_stream_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING face of the custom Python DataSource: the same
    synthetic feed consumed via ``readStream.format('synthevents')`` —
    offset-tracked SimpleDataSourceStreamReader, checkpointed,
    availableNow drain into a complete-mode rollup — must hash-match
    the batch oracle's arithmetic regeneration. Together with
    ``python_datasource_parity`` this covers both halves of the
    Spark 4 Python source API (plan/partition batch scan + offset
    commit streaming scan)."""
    _register_source(spark)

    def build() -> DataFrame:
        feed = (
            spark.readStream.format("synthevents")
            .option("n_rows", SYNTH_N_ROWS)
            .load()
        )
        # streaming forbids distinct aggregates: keep per-(type, user)
        # state in the stream (the standard two-level rewrite) and let
        # the final batch read over the sink do the distinct rollup
        return feed.groupBy("event_type", "user_id").agg(
            F.count("*").alias("n"),
            F.sum("value_cents").cast("bigint").alias("cents"),
        )

    return (
        drained_table(
            spark,
            "python_datasource_stream_parity",
            "pysource_stream",
            build,
            "complete",
        )
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
        .orderBy("event_type")
    )
