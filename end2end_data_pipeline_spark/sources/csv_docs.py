"""CSV document ingest — the tabular-text front door, completing the
format trio with JSONL (``sources/jsonl.py``) and WebDataset tar
shards (``sources/webdataset.py``). Spark-first: the native CSV source
does the parsing (predicate pushdown, schema enforcement, whole-stage
codegen), and the same dead-letter discipline applies — a malformed
record (wrong arity, broken quoting, type failure) lands with its raw
line preserved verbatim in the corrupt column, never fatal and never
silently dropped.

Quoting: RFC-4180 double-quote conventions (quoted fields may contain
the delimiter; embedded quotes double), which is what both the Python
``csv`` module and Spark's ``quote``/``escape='"'`` settings speak.
PERMISSIVE caveat shared with the JSON reader: a corrupt row may ALSO
carry partially-parsed typed fields (Spark fills what it could before
the failure), so "good" is defined as ``corrupt IS NULL``, not "any
field non-null".

Reference scope note: the reference pipeline ingests Kafka/Avro only;
this source backs the engine's corpus front doors, first-class per the
build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end2end_data_pipeline_spark.sources.jsonl import CORRUPT_COL, _split_good_dead


def _reader_options(reader):
    return (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
    )


def read_csv_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """(good, dead) frames for headerless CSV under ``path`` — the
    same contract as ``read_jsonl_docs``: ``good`` carries exactly
    ``schema``'s columns, ``dead`` is (raw_line string) for
    quarantine. The caller's schema is REQUIRED (inference over a
    100 TB corpus is an extra full pass)."""
    return _split_good_dead(
        spark,
        "csv_raw",
        path,
        schema,
        lambda full: _reader_options(spark.read.schema(full)).csv(path),
    )


def stream_csv_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """Streaming arrival for the CSV front door: files landing under
    ``path`` parse through the same PERMISSIVE + corrupt-column
    contract, flagged with ``is_corrupt`` so ONE partitioned sink
    routes good rows and quarantine per micro-batch (the CSV twin of
    ``stream_jsonl_docs``). Exactly-once per file via the file-source
    checkpoint; stateless, so append mode and availableNow backfills
    both work."""
    full = T.StructType(
        [*schema.fields, T.StructField(CORRUPT_COL, T.StringType(), True)]
    )
    return (
        _reader_options(spark.readStream.schema(full))
        .csv(path)
        .withColumn("is_corrupt", F.col(CORRUPT_COL).isNotNull())
    )
