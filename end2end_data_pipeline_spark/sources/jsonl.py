"""JSONL document ingest — the text-corpus front door, built entirely
on Spark's native JSON source (Spark-first: no custom parser, so
predicate pushdown, schema enforcement, and whole-stage codegen all
apply) with the same dead-letter discipline as the Avro and tar-shard
readers: malformed lines are quarantined, never fatal and never
silently dropped.

Mechanics: PERMISSIVE mode with ``columnNameOfCorruptRecord`` — a
parseable line lands typed, an unparseable one lands with its raw text
in the corrupt column and nulls elsewhere. ``read_jsonl_docs`` splits
the two streams; at 100 TB the corrupt side is typically a handful of
truncated objects per thousand files and writes to a quarantine path
for replay, exactly like ``decode_events_avro_dlq`` and
``tar_shard_dead_letters``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end2end_data_pipeline_spark.sources.tables import file_identity, session_cached

CORRUPT_COL = "_corrupt_record"


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """(good, dead) frames for line-delimited JSON under ``path``.

    ``good`` carries exactly ``schema``'s columns; ``dead`` is
    (raw_line string) — route it to quarantine. The caller's schema is
    REQUIRED: schema inference over a 100 TB corpus is an extra full
    pass, and a drifting producer should fail typed, not re-infer.
    """
    return _split_good_dead(
        spark,
        "jsonl_raw",
        path,
        schema,
        lambda full: spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path),
    )


def _split_good_dead(
    spark: SparkSession,
    kind: str,
    path: str,
    schema: T.StructType,
    read,
) -> tuple[DataFrame, DataFrame]:
    """(good, dead) frames of the PERMISSIVE read ``read(full)``, where
    ``full`` is ``schema`` plus the corrupt column. Spark requires
    materializing the corrupt column before filtering on it
    (SPARK-21610): referencing it straight off the scan is disallowed,
    so the batch lands through a cache, one per reader ``kind``,
    absolute path, file identity and schema, not per call. A relative
    and an absolute spelling share the entry, and a file that lands
    under ``path`` later makes a new one."""
    full = T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    abspath = os.path.abspath(path)

    def build() -> DataFrame:
        # Spark's cache manager matches a new read of the same path to
        # the earlier cached one, whose file listing is stale: refresh
        # that entry first
        spark.catalog.refreshByPath(abspath)
        return read(full)

    raw = session_cached(
        spark, (kind, abspath, file_identity(path), full.json()), build
    )
    good = raw.where(F.col(CORRUPT_COL).isNull()).select(
        *[f.name for f in schema.fields]
    )
    dead = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return good, dead


def read_jsonl_docs_observed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
):
    """(parsed, observation) — the SINGLE-PASS form of the ingest.

    ``read_jsonl_docs`` is the two-frame convenience API; it lands the
    batch through a cache because Spark disallows querying only the
    corrupt column off a raw JSON scan (SPARK-21610), and a cache of
    the whole corpus is exactly what a 100 TB ingest cannot afford.
    This variant returns the parsed frame WITH the corrupt column and
    an in-flight ``is_corrupt`` flag, plus an ``Observation`` counting
    total/corrupt lines during whatever single action the caller runs.
    The production shape: ONE partitioned write routes both streams —

        parsed.write.partitionBy("is_corrupt").parquet(out)

    — good rows and quarantine land in separate partitions of one
    pass, and ``observation.get`` then yields ``n_lines``/``n_corrupt``
    for the no-silent-drop check (good + corrupt == lines read) with
    zero extra scans. The driving action must reference at least one
    DATA column (the write above does): a bare ``count()`` prunes the
    scan down to the corrupt column alone, which Spark disallows on
    raw JSON (SPARK-21610)."""
    from pyspark.sql import Observation

    full = T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    obs = Observation("jsonl_ingest")
    parsed = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_lines"),
            # coalesce: SUM over an empty scan is NULL, which would
            # break the advertised good + corrupt == lines identity
            F.coalesce(
                F.sum(F.col(CORRUPT_COL).isNotNull().cast("long")), F.lit(0)
            ).alias("n_corrupt"),
        )
        .withColumn("is_corrupt", F.col(CORRUPT_COL).isNotNull())
    )
    return parsed, obs


def stream_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Streaming arrival for the JSONL front door: files landing under
    ``path`` parse through the same PERMISSIVE + corrupt-column
    contract, flagged with ``is_corrupt`` so ONE partitioned sink
    routes good rows and quarantine per micro-batch — the streaming
    twin of ``read_jsonl_docs_observed`` and the JSONL counterpart of
    ``webdataset.stream_tar_shards_unified``. Each file is processed
    exactly once across restarts (file-source checkpoint); stateless,
    so append mode and ``trigger(availableNow=True)`` backfills both
    work."""
    full = T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .withColumn("is_corrupt", F.col(CORRUPT_COL).isNotNull())
    )
