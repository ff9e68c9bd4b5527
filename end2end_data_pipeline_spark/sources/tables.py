"""Parquet table sources for the driver testdata layout.

Reference analog: the warehouse scan path (``airflow/dags/spark.py:24``,
one ``spark.read.parquet``) generalized to the ten-table testdata star
schema. Reads stay fully declarative so Catalyst pushes filters and
prunes columns into the parquet scan (verify via
``df.explain('formatted')`` → PushedFilters / ReadSchema).

This module also holds the engine's one session-state registry. Every
per-application thing an operator keeps — cached and checkpointed
frames, drained memory-sink tables, written layouts and fixtures,
fitted model state, a registered data source, the parquet schema of
each table ``load_table`` reads and the global temp view it reads the
table through — is an entry of ``session_memo``. A key names its
owner: ``session_cached`` and ``session_checkpointed`` key on
``("cached", tag)`` and ``("checkpointed", tag)``, a frame derived
from a fixture dir takes its tag from ``frame_memo_tag`` (name +
abspath, so relative and absolute callers share one entry), model
state keys on ``model_memo_key``, a table schema on ``("schema",
abspath, file_identity)`` and a table view on ``("table", abspath,
file_identity)``; all three include the table's ``file_identity``,
the (relpath, mtime, size) of each of its files. Table views are what
make a warm read cheap: once a table's view exists, ``load_table``
resolves no data source and lists no files for it.
An entry is stored only after its build returns: a build that raises
leaves nothing, and the next call builds again. Entries belong to one
Spark application; the first call under a new ``applicationId`` drops
them all (PySpark runs one SparkContext per process). Files an entry
needs live under ``session_scratch``: one directory per application,
removed when the interpreter exits.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are fixed-cardinality; supplier/part/customer grow with
# SF but stay orders of magnitude below the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier")


class _AppState:
    """What the registry holds for one Spark application: its
    entries, its scratch root (made on first use), the sequence that
    numbers its memory-sink tables and table views, and the
    SparkContext last seen running it."""

    def __init__(self, app_id: str):
        self.app_id = app_id
        self.entries: dict = {}
        self.scratch: str | None = None
        self.ids = itertools.count()
        self.sc = None


_SESSION = _AppState("")


def _app_state(spark: SparkSession) -> _AppState:
    """The registry state of ``spark``'s application; a different
    applicationId than the last one seen drops every entry. A
    SparkContext runs one application, so its applicationId (two py4j
    round trips) is asked only of a context other than the last one."""
    global _SESSION
    sc = spark.sparkContext
    if sc is not _SESSION.sc:
        app_id = sc.applicationId
        if _SESSION.app_id != app_id:
            _SESSION = _AppState(app_id)
        _SESSION.sc = sc
    return _SESSION


def session_memo(spark: SparkSession, key, build, valid=None):
    """The per-application entry under ``key``, built by the
    zero-argument ``build`` on a miss. The entry is stored only after
    ``build()`` returns, so a build that raises leaves nothing behind
    and the next call builds again. ``valid(entry)`` (optional)
    re-checks a hit whose backing object can vanish (a scratch path,
    a catalog table); a hit that fails it is rebuilt."""
    entries = _app_state(spark).entries
    if key in entries and (valid is None or valid(entries[key])):
        return entries[key]
    value = build()
    entries[key] = value
    return value


def session_cached(spark: SparkSession, tag: str | tuple, build) -> DataFrame:
    """``build().cache()`` once per application and tag: repeated
    invocations (full-registry sweeps, bench repeats) reuse ONE
    InMemoryRelation instead of accumulating a fresh one per call,
    and a hit never calls ``build``."""
    return session_memo(spark, ("cached", tag), lambda: build().cache())


def disk_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` at DISK_ONLY — for corpus-scale
    intermediates that feed several consumers. MEMORY_AND_DISK (the
    localCheckpoint default) lets checkpoint blocks compete with the
    session's cached frames in the storage pool and evict them (r13:
    a bench run with memory-level checkpoints showed cache-dependent
    queries recomputing — task fingerprints jumped 73->239 — while
    disk-level blocks leave the working caches alone; the blocks are
    read back once per consumer, sequentially, which the OS page
    cache absorbs anyway).

    Cluster-scale caveat (applies to every localCheckpoint site):
    blocks live on executors, so a lost executor fails the query
    instead of recomputing — acceptable for these bounded
    intermediates; a 100 TB deployment that needs fault tolerance
    swaps this for ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint()`` with no other code change. Unlike
    ``session_cached`` the result is a LogicalRDD leaf: downstream
    plans lose Catalyst statistics (joins against it won't
    auto-broadcast) but also lose the parent LINEAGE — use it when
    the consumer's analyzed plan would otherwise grow with every
    composition (iterative rounds: the r14 k-core fix took the
    4-round plan from 234k lines / ~3 s of per-invocation planning
    to a 4-leaf plan at ~0.4 s)."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def session_checkpointed(spark: SparkSession, tag: str, build) -> DataFrame:
    """``disk_checkpoint(build())`` once per application and tag —
    the lineage-TRUNCATING sibling of ``session_cached``, for
    intermediates whose consumers would otherwise re-analyze the
    whole upstream tree every invocation (iterative graph rounds,
    deep shared builders). Eager: runs Spark jobs on the first call
    per application."""
    return session_memo(
        spark, ("checkpointed", tag), lambda: disk_checkpoint(build())
    )


def input_scaled_partitions(
    sf_dir: str, *tables: str, target_mb: int = 64, factor: float = 1.0
) -> int:
    """Partition count for a session-cached frame derived from the
    given fixture tables: ceil(input_bytes * factor / target_mb).
    Cached frames pin their partitioning (AQE cannot coalesce an
    InMemoryRelation after the fact), so an un-coalesced cache keeps
    the build's 32-way layout forever — at sf0.1 that turned every
    consumer pass over an 8k-row cache into 32 fixed-cost tasks
    (guide §2.2: partitions should be data-sized). A CONSTANT
    coalesce is the opposite failure at 100 TB, so the count derives
    from the actual input bytes: ~1 locally, thousands on a real
    table. ``factor`` scales for frames materially smaller than their
    input (e.g. codes vs raw vectors)."""
    import math

    total = sum(
        size for t in tables for _, _, size in file_identity(table_path(sf_dir, t))
    )
    return max(1, math.ceil(total * factor / (target_mb * 1024 * 1024)))


def frame_memo_tag(sf_dir: str, name: str) -> str:
    """Canonical registry tag for a frame, table or directory derived
    from one fixture dir: name + abspath, so relative
    and absolute callers share ONE memo entry (r13 advice: the
    ppjoin_prefix tag keyed the raw sf_dir string while
    _copurchase_op keyed abspath — mixed callers double-materialize).
    Deliberately no (mtime, size) component, unlike model_memo_key:
    cached frames hold derived ROWS that are rebuilt per application,
    and no harness regenerates a fixture in place within one
    application (tests use fresh tmp_path dirs); model state, which
    bakes values into later plans, keeps the stat-based key."""
    import os

    return f"{name}:{os.path.abspath(sf_dir)}"


_SCRATCH_DIRS: list[str] = []


def run_scratch_dir(prefix: str) -> str:
    """Per-run scratch dir (stream checkpoints, symlink sources,
    replay state), removed at interpreter exit — the shared lifecycle
    behind every replay's scratch (r10 advice: per-run dirs, never
    the accumulating shared tempdir; r11 code review: one helper, not
    one copy per operator module)."""
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [
                shutil.rmtree(d, ignore_errors=True) for d in _SCRATCH_DIRS
            ]
        )
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def session_scratch(spark: SparkSession, name: str) -> str:
    """``<root>/<name>``, where ``<root>`` is one ``run_scratch_dir``
    per application, so every stream checkpoint, written layout and
    fixture of the application is removed at interpreter exit. The
    path itself is not created: Spark's writers and stream
    checkpoints make it."""
    import os

    st = _app_state(spark)
    if st.scratch is None:
        st.scratch = run_scratch_dir("spark_graft_session_")
    return os.path.join(st.scratch, name)


def drain_to_memory(
    spark: SparkSession, name: str, stream_df: DataFrame, output_mode: str
) -> str:
    """Run ``stream_df`` once over everything available (the
    ``availableNow`` trigger) into a memory sink and return the sink's
    table name: ``name`` plus a per-application sequence number, so a
    rebuilt entry never resumes an earlier checkpoint. The checkpoint
    lives in ``session_scratch`` under the table name."""
    table = f"{name}_{next(_app_state(spark).ids)}"
    (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(table)
        .option("checkpointLocation", session_scratch(spark, table))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return table


def drained_table(
    spark: SparkSession, key, name: str, build_stream, output_mode: str
) -> DataFrame:
    """The memory-sink table that ``drain_to_memory`` fills from the
    zero-argument ``build_stream()``, drained once per application and
    ``key``. A drained table stays valid while the catalog has it; a
    hit whose table was dropped drains again."""
    table = session_memo(
        spark,
        key,
        lambda: drain_to_memory(spark, name, build_stream(), output_mode),
        valid=spark.catalog.tableExists,
    )
    return spark.table(table)


def model_memo_key(sf_dir: str, table: str) -> tuple:
    """Key part for MODEL STATE trained off one fixture table (k-means
    centroids, BPE merge lists, drained replay state): (abspath(sf_dir),
    ``file_identity`` of the table). One builder so every model entry
    keys identically — abspath so mixed relative/absolute callers share
    one entry, and the file identity so a fixture regenerated at the
    same path within one application, as one file or as part files,
    is never served stale state (r11 advice: the three memos had
    drifted between verbatim and abspath keys)."""
    import os

    return (os.path.abspath(sf_dir), file_identity(table_path(sf_dir, table)))


def sf_tag(sf_abs: str) -> str:
    """Filesystem-safe tag for per-sf_dir scratch paths: the readable
    basename PLUS a short digest of the FULL path — two fixture dirs
    with the same leaf name (tmp_path fixtures, parallel checkouts)
    must never share a scratch directory (r9 code review: a
    basename-only tag let one session's builds overwrite another
    sf_dir's while the memo, keyed on the full path, kept serving the
    overwritten copy)."""
    import hashlib
    import re

    base = re.sub(r"[^0-9A-Za-z]", "_", __import__("os").path.basename(sf_abs))
    return f"{base}_{hashlib.sha1(sf_abs.encode()).hexdigest()[:8]}"


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-local TIMESTAMP.

    The testdata stores untagged ``timestamp[us]`` parquet columns, which
    Spark 4 infers as TIMESTAMP_NTZ (``spark.sql.parquet.inferTimestampNTZ
    .enabled`` defaults true). The engine's event-time contract is
    instant-typed TIMESTAMP (session TZ pinned UTC at session.py, so the
    cast is value-identical), and epoch-math builtins (``unix_millis``,
    ``cast(double)``, watermarks) reject NTZ — normalizing once here keeps
    every downstream operator type-stable across Spark 3/4 and both
    fixture layouts. DuckDB reads the same parquet as naive timestamps,
    so oracle comparisons stay value-aligned.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def table_path(sf_dir: str, name: str) -> str:
    """Where a fixture dir keeps table ``name``:
    ``{sf_dir}/{name}.parquet``, one parquet file or a directory of
    part files."""
    import os

    return os.path.join(sf_dir, f"{name}.parquet")


def file_identity(path: str) -> tuple:
    """The files a table path holds, as sorted ``(relpath, mtime_ns,
    size)`` triples: one triple with relpath ``"."`` for a single
    file, one per file under a directory of part files, none when the
    path does not exist locally. A key that includes it changes when
    the table is rewritten in place or gains or loses a part file."""
    import os

    if os.path.isfile(path):
        files = [path]
    else:
        files = [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs]
    stats = ((f, os.stat(f)) for f in files)
    return tuple(
        sorted((os.path.relpath(f, path), st.st_mtime_ns, st.st_size) for f, st in stats)
    )


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _infer_schema(spark: SparkSession, path: str, name: str):
    """The schema Spark infers for the parquet table at ``path`` (one
    Spark job). When the footer (read by pyarrow, no job) stores
    ``events.ts`` in nanoseconds, the inference runs under
    ``nanosAsLong``, so ``ts`` is pinned as LongType, and the conf then
    gets its prior value back: a read with the pinned schema decodes
    the column as raw int64 without it."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    if name == "events":
        ts = ds.dataset(path, format="parquet").schema.field("ts").type
        if pa.types.is_timestamp(ts) and ts.unit == "ns":
            prior = spark.conf.get(_NANOS_AS_LONG)
            spark.conf.set(_NANOS_AS_LONG, "true")
            try:
                return spark.read.parquet(path).schema
            finally:
                spark.conf.set(_NANOS_AS_LONG, prior)
    return spark.read.parquet(path).schema


def _checked_path(sf_dir: str, name: str) -> str:
    """``table_path(sf_dir, name)`` for a known table name."""
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return table_path(sf_dir, name)


def _pinned_schema(spark: SparkSession, path: str, name: str, files: tuple):
    """The registry's raw parquet schema of the table at ``path``, whose
    local files are ``files`` (non-empty): inferred once per
    application and ``file_identity``, with no frame built on a hit."""
    import os

    return session_memo(
        spark,
        ("schema", os.path.abspath(path), files),
        lambda: _infer_schema(spark, path, name),
    )


def _normalize(df: DataFrame, name: str) -> DataFrame:
    """The column types every reader of table ``name`` gets, batch or
    stream: see ``load_table``."""
    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        # integer division keeps full precision (a double round-trip
        # would corrupt epoch-nanos > 2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df)


def _register_table_view(
    spark: SparkSession, path: str, name: str, files: tuple
) -> tuple[str, str]:
    """Register the normalized, schema-pinned read of one table as a
    global temp view. Returns the view's qualified name and the query
    that reads it: a select that re-aliases every column, so each frame
    read through the view gets its own attribute ids and two reads of
    one table join and select like two separate reads."""
    schema = _pinned_schema(spark, path, name, files)
    view = f"spark_graft_{name}_{next(_app_state(spark).ids)}"
    df = _normalize(spark.read.schema(schema).parquet(path), name)
    df.createOrReplaceGlobalTempView(view)
    qualified = f"{spark.conf.get('spark.sql.globalTempDatabase')}.{view}"
    cols = ", ".join(
        "`{0}` AS `{0}`".format(c.replace("`", "``")) for c in df.columns
    )
    return qualified, f"SELECT {cols} FROM {qualified}"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``table_path(sf_dir, name)``.

    Every fixture under the driver's testdata, and every fixture the
    repo's own writers produce, stores its timestamps as untagged
    ``timestamp[us]``, normalized by ``_normalize_ntz``. The nanosecond
    branch serves only older external fixtures that wrote ``events.ts``
    as a nanosecond parquet timestamp, which Spark's TimestampType
    (microseconds) cannot represent: it is read as a raw int64 and
    truncated to microseconds — the same truncation DuckDB applies when
    casting TIMESTAMP_NS down, so oracle comparisons stay aligned.

    The table is read through the catalog. Its normalized read, with
    the schema pinned (``_pinned_schema``), is registered once per
    application and ``file_identity`` as a global temp view, an entry
    of ``session_memo`` under ``("table", abspath, file_identity)``.
    Every later call selects from that view, so once the view exists a
    read resolves no data source, lists no files and starts no Spark
    job. Each call re-aliases the view's columns, so two frames of one
    table have distinct attribute ids, as two separate reads do. A
    global view lives as long as the application and is visible from
    ``spark.newSession()`` and from a ``foreachBatch`` function's
    session. A table rewritten in place or given another part file has
    a new key, so it is served from a new view; a dropped view is
    registered again. A path with no local files is read unpinned, so
    a missing table raises Spark's own error. No read leaves session
    conf changed.
    """
    import os

    path = _checked_path(sf_dir, name)
    files = file_identity(path)
    if not files:
        # nothing to pin: a missing path raises Spark's own error
        return _normalize(spark.read.parquet(path), name)
    _, query = session_memo(
        spark,
        ("table", os.path.abspath(path), files),
        lambda: _register_table_view(spark, path, name, files),
        valid=lambda entry: spark.catalog.tableExists(entry[0]),
    )
    # an empty dict of arguments goes to the JVM as one map; leaving
    # ``args`` out builds an empty list in four py4j round trips
    return spark.sql(query, args={})


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A file-stream source over one table with ``load_table``'s
    schema and column types: the stream is pinned to the registry's
    raw schema of the table, then normalized by the same rule. Both
    fixture layouts stream through one path: a one-alternative glob
    group, ``{sf_dir}/{<name>.parquet}``, matches the table whether it
    is a single file (which the file source rejects as a plain base
    path) or a directory (whose part files the glob match lists)."""
    import os

    path = _checked_path(sf_dir, name)
    files = file_identity(path)
    # a path with no local files: Spark's own inference, and its error
    schema = (
        _pinned_schema(spark, path, name, files) if files
        else spark.read.parquet(path).schema
    )
    head, tail = os.path.split(path)
    stream = spark.readStream.schema(schema).parquet(f"{head}/{{{tail}}}")
    return _normalize(stream, name)


def fan_out(spark: SparkSession, df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure at least cluster-parallelism partitions ahead of a
    CPU-heavy per-row pass (md5 shingling, vector quantization).

    Small single-row-group parquet files scan as ONE partition, which
    serializes whole-stage-codegen'd-but-expensive row expressions on a
    single core. The guard makes this a no-op whenever the upstream
    already has enough splits — on a real multi-file 100 TB table this
    never repartitions (the scan has thousands of files); it only
    rescues the degenerate small-file case, paying one cheap shuffle of
    the raw rows to unlock N-core execution.

    The probe is ``df.inputFiles()`` — a driver-side catalog listing
    with no job, no RDD conversion, and no extra physical-plan
    compilation (the previous ``df.rdd.getNumPartitions()`` probe
    forced a plan-to-RDD translation at every query-build; flagged in
    round-2 review). File count under-estimates split count for huge
    splittable files, but every caller passes a freshly loaded parquet
    table where files >= ``n`` implies splits >= ``n``, and at 100 TB
    the listing has thousands of entries so this stays a no-op."""
    n = partitions or spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < n:
        return df.repartition(n)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables (all by default) as a name->DataFrame dict."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so ``spark.sql`` can reference tables by name."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
