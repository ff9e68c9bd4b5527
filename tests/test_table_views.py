"""``sources.tables.load_table`` reads each table through a global temp
view that the registry registers once per application and file
identity: rebuilding the dashboard queries resolves no data source and
registers no view, two frames of one table join and select like two
separate reads, the view is readable from another session and from a
``foreachBatch`` function, and a dropped view is registered again."""

from __future__ import annotations

import os
import re

import duckdb

from benchmark.workloads import DASHBOARD_QUERIES
from end2end_data_pipeline_spark.registry import QUERIES
from end2end_data_pipeline_spark.sources import tables
from end2end_data_pipeline_spark.sources.tables import (
    file_identity,
    load_table,
    stream_table,
    table_path,
)
from tools.driver_rehearsal import SF_DRIVER

RESOLVE_DATA_SOURCE = "org.apache.spark.sql.catalyst.analysis.ResolveDataSource"


def global_views(spark) -> set[str]:
    """The names of the application's global temp views."""
    db = spark.conf.get("spark.sql.globalTempDatabase")
    return {
        r.tableName
        for r in spark.sql(f"SHOW TABLES IN {db}").collect()
        if r.namespace == db
    }


def table_view(spark, sf_dir: str, name: str) -> str:
    """The qualified name of the view the registry serves ``name`` from."""
    path = table_path(sf_dir, name)
    key = ("table", os.path.abspath(path), file_identity(path))
    return tables._app_state(spark).entries[key][0]


def effective_runs(spark, rule: str) -> int:
    """Effective runs of an analyzer rule since Catalyst's rule metrics
    were last reset (``RuleExecutor.dumpTimeSpent``)."""
    dump = spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
    m = re.search(re.escape(rule) + r"\s+\d+ / \d+\s+(\d+) / \d+", dump)
    return int(m.group(1)) if m else 0


def test_dashboard_rebuild_resolves_no_data_source(spark):
    import __spark_entry__  # noqa: F401 — registers every query module

    for name in DASHBOARD_QUERIES:
        QUERIES[name](spark, SF_DRIVER)
    views = global_views(spark)
    spark._jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
    for name in DASHBOARD_QUERIES:
        QUERIES[name](spark, SF_DRIVER)
    assert effective_runs(spark, RESOLVE_DATA_SOURCE) == 0
    assert global_views(spark) == views


def test_two_frames_of_one_table_join_and_select_like_two_reads(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    pairs = a.join(
        b, (a.n_regionkey == b.n_regionkey) & (a.n_nationkey < b.n_nationkey)
    ).select(a.n_nationkey.alias("x"), b.n_nationkey.alias("y"))
    got = sorted(tuple(r) for r in pairs.collect())
    want = sorted(
        duckdb.sql(
            f"SELECT a.n_nationkey, b.n_nationkey "
            f"FROM '{table_path(sf_dir, 'nation')}' a "
            f"JOIN '{table_path(sf_dir, 'nation')}' b "
            f"ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey"
        ).fetchall()
    )
    assert got == want and got


def test_new_session_and_foreach_batch_read_through_the_view(spark, sf_dir, tmp_path):
    n_region = load_table(spark, sf_dir, "region").count()
    assert load_table(spark.newSession(), sf_dir, "region").count() == n_region

    seen = []

    def per_batch(batch_df, batch_id):
        nation = load_table(batch_df.sparkSession, sf_dir, "nation")
        seen.append(batch_df.join(nation, batch_df.r_regionkey == nation.n_regionkey).count())

    (
        stream_table(spark, sf_dir, "region")
        .writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert seen == [load_table(spark, sf_dir, "nation").count()]


def test_dropped_view_is_registered_again(spark, sf_dir):
    n = load_table(spark, sf_dir, "supplier").count()
    old = table_view(spark, sf_dir, "supplier")
    spark.catalog.dropGlobalTempView(old.split(".", 1)[1])
    assert load_table(spark, sf_dir, "supplier").count() == n
    new = table_view(spark, sf_dir, "supplier")
    assert new != old and spark.catalog.tableExists(new)
