"""``sources.tables.load_table`` infers each table's parquet schema once
per application and file identity and reads with it pinned: building a
query over tables already read starts no Spark job, a table rewritten
in place or given another part file is read with its new schema, and
a nanosecond ``events.ts`` is decoded through the pinned schema
without leaving ``nanosAsLong`` changed on the session. A rewritten
table is served from a new table view."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from benchmark.workloads import DASHBOARD_QUERIES
from end2end_data_pipeline_spark.registry import QUERIES
from end2end_data_pipeline_spark.sources.tables import (
    TABLE_NAMES,
    file_identity,
    input_scaled_partitions,
    load_table,
    model_memo_key,
    stream_table,
    table_path,
)
from tests.test_table_views import table_view
from tools.driver_rehearsal import SF_DRIVER

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_in_group(spark, group: str, build) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_dashboard_builds_start_no_job(spark):
    import __spark_entry__  # noqa: F401 — registers every query module

    for name in TABLE_NAMES:
        load_table(spark, SF_DRIVER, name)
    started = {
        name: _jobs_in_group(
            spark, f"schema-pin-build-{name}", lambda: QUERIES[name](spark, SF_DRIVER)
        )
        for name in DASHBOARD_QUERIES
    }
    assert started == {name: [] for name in DASHBOARD_QUERIES}


def test_missing_table_raises_spark_error(spark, tmp_path):
    for read in (load_table, stream_table):
        with pytest.raises(AnalysisException):
            read(spark, str(tmp_path), "region")


def test_single_file_table_rewritten_in_place_shows_its_new_column(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "region")
    shutil.copy(table_path(sf_dir, "region"), path)
    assert load_table(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    key = model_memo_key(sf, "region")
    view = table_view(spark, sf, "region")

    t = pq.read_table(path)
    pq.write_table(t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64())), path)
    assert model_memo_key(sf, "region") != key
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    # served from a view of its own, not the one of the old file
    assert table_view(spark, sf, "region") != view
    assert sorted(r.r_extra for r in df.collect()) == list(range(t.num_rows))


def test_added_part_file_changes_the_key_and_the_rows(spark, sf_dir, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "nation")
    nation = pq.read_table(table_path(sf_dir, "nation"))
    (tmp_path / "nation.parquet").mkdir()
    pq.write_table(nation, f"{path}/part-0.parquet")
    before = file_identity(path)
    assert [rel for rel, _, _ in before] == ["part-0.parquet"]
    assert load_table(spark, sf, "nation").count() == nation.num_rows

    pq.write_table(nation, f"{path}/part-1.parquet")
    after = file_identity(path)
    assert after != before and len(after) == 2
    assert load_table(spark, sf, "nation").count() == 2 * nation.num_rows
    # the partition count is sized from the same listing: one byte per partition
    one_byte_mb = 1 / 2**20
    assert input_scaled_partitions(sf, "nation", target_mb=one_byte_mb) == sum(
        size for _, _, size in after
    )


NS = [1_700_000_000_123_456_789, 1_700_000_060_000_000_999, 1_700_000_120_999_999_001]


@pytest.fixture
def nanos_sf(tmp_path) -> str:
    """A fixture dir whose ``events`` stores ``ts`` as a nanosecond
    parquet timestamp."""
    events = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(NS, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "purchase"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    pq.write_table(events, table_path(str(tmp_path), "events"), version="2.6")
    assert pq.read_schema(table_path(str(tmp_path), "events")).field("ts").type.unit == "ns"
    return str(tmp_path)


@pytest.mark.parametrize("vectorized", ["true", "false"])
def test_nanos_events_read_truncates_and_leaves_conf_unchanged(spark, nanos_sf, vectorized):
    prior = spark.conf.get(NANOS_AS_LONG)
    reader = "spark.sql.parquet.enableVectorizedReader"
    prior_reader = spark.conf.get(reader)
    spark.conf.set(reader, vectorized)
    try:
        df = load_table(spark, nanos_sf, "events")
        assert spark.conf.get(NANOS_AS_LONG) == prior
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = [r[0] for r in df.orderBy("event_id").selectExpr("unix_micros(ts)").collect()]
        assert spark.conf.get(NANOS_AS_LONG) == prior
    finally:
        spark.conf.set(reader, prior_reader)
    assert micros == [ns // 1000 for ns in NS]
