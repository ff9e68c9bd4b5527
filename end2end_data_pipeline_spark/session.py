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
- Spark's generated-class cache holds ``CODEGEN_CACHE_ENTRIES``
  (1000) compiled classes instead of its default 100. The cache is
  least-recently-used, and one pass of the 15 benchmark dashboard
  queries compiles about 245 distinct whole-stage and expression
  classes (one sweep of the 336-query registry about 4040). At 100
  entries every warm dashboard pass therefore evicted and recompiled
  about 240 of them with Janino, inside each query's build and execute
  time; at 1000 a warm pass compiles 0-4 (``q8_market_share``'s plan
  settles after its second run). Live heap after a full GC, measured
  at 100 / 1000 entries: 87 / 113 MB after the dashboard benchmark in
  a 1 GB heap; 411 / 396 MB after a registry sweep, which fills all
  1000 entries (run-to-run noise is larger than the difference; with
  no cap, 4040 entries, it read 526 MB). This is a static conf: it
  takes effect only when ``get_spark`` creates the SparkContext, not on
  a session that is already running.
- PySpark's DataFrame debugging is off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). When it is
  on, PySpark's default, every DataFrame and Column API call records
  its Python call site in the JVM: it looks up the active session, a
  JVM class and a conf, walks the Python stack and sets and clears
  ``PySparkCurrentOrigin``, all through py4j. A warm build of
  ``q8_market_share`` at sf0.01 made 878 py4j round trips with it on
  and 388 with it off. What a runtime error loses is the
  Python ``file:line`` in its DataFrame query context; its error class
  and message stay. PySpark reads this conf once per process, at the
  first DataFrame call made with an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# generated classes kept compiled: about 4x the dashboard's working set
# of ~245 (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


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
    Static confs (the codegen cache size, the driver heap) apply only
    when this call creates the SparkContext; a session built on a
    running context keeps the static confs that context started with.
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
        # no Python call site recorded per DataFrame call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static: read once, when this call creates the SparkContext
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
