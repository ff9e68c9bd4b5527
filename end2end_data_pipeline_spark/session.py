"""SparkSession factory.

Centralizes the engine's execution posture (reference analog: the
spark-submit conf block at ``airflow/dags/pipeline.py:188-201``, which
hand-wires s3a + executor sizing; here one factory owns all conf):

- AQE on (coalesce small shuffle partitions, runtime skew-join
  handling) — mandatory for the 100 TB posture, harmless locally.
- Session timezone pinned UTC so event-time semantics and oracle
  (DuckDB) comparisons are stable (the reference stores UTC and only
  converts to display timezones at the edge — SURVEY.md §2.6 F2).
- Arrow enabled for the few pandas-interop paths (mapInPandas /
  applyInPandas in the multimodal and streaming-state operators).
- Streaming checkpoints are written through Hadoop ``FileSystem``
  (``FileSystemBasedCheckpointFileManager``) instead of the default
  ``FileContext`` manager. pip PySpark ships no libhadoop, and without
  it ``FileContext`` on ``file:`` starts a ``readlink`` process for
  each path of every rename and a ``chmod`` process for every create,
  i.e. for each offset, commit, source-log and state-store file. What
  stays the same: every checkpoint file is written to a temp file and
  renamed into place, with Hadoop ``.crc`` files and Spark's state
  ``.delta.crc`` checksums. The rename is atomic on the local FS and
  HDFS, and a no-overwrite rename onto an existing file fails, so a
  second writer of a batch file still fails; no manager makes S3
  renames atomic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "end2end-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    At cluster scale the same conf applies; only ``master`` and the
    partition count change. ``spark.sql.files.maxPartitionBytes`` stays
    at the 128 MB default — the right split size for large parquet scans.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Belt-and-braces for untagged parquet timestamps: read them as
        # instant-typed TIMESTAMP directly. The primary defense is the
        # load-time normalization in sources/tables.py (_normalize_ntz)
        # — that one also protects sessions the engine doesn't build.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        # FileSystem, not FileContext, for every checkpoint write: the
        # same temp-file + rename and checksums without starting a
        # readlink/chmod process per file (module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # capacity, not semantics (the scale_gate/tiny_gate note): 12g
        # gives the unified storage pool headroom for the full-registry
        # session-cache working set plus the r13 materialized indexes
        # (PPJoin prefix, co-purchase incidence, ~65 MB) — at 8g the
        # r13 bench showed late-run LRU evictions of the shared
        # copurchase edge cache (kcore task fingerprint 170 -> 655,
        # a recompute, not a plan change). Env-overridable; the
        # sandbox has 128 GiB.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
