"""``sources.tables.stream_table``: a file stream over a fixture table
drains exactly ``load_table``'s rows and types, whether the table is
stored as one parquet file or as a Spark-written directory of part
files."""

from __future__ import annotations

import pytest

from end2end_data_pipeline_spark.sources.tables import (
    drain_to_memory,
    load_table,
    stream_table,
    table_path,
)


@pytest.fixture(scope="module")
def dir_sf(spark, sf_dir, tmp_path_factory):
    """A fixture dir holding ``events`` and ``documents`` as Spark-written
    directories (three part files each) of the single-file tables."""
    out = str(tmp_path_factory.mktemp("dir_layout"))
    for name in ("events", "documents"):
        spark.read.parquet(table_path(sf_dir, name)).repartition(3).write.parquet(
            table_path(out, name)
        )
    return out


@pytest.mark.parametrize("name", ["events", "documents"])
@pytest.mark.parametrize("layout", ["file", "directory"])
def test_stream_table_drains_load_table_rows(spark, sf_dir, dir_sf, name, layout):
    sf = sf_dir if layout == "file" else dir_sf
    expected = load_table(spark, sf, name)
    stream = stream_table(spark, sf, name)
    assert stream.isStreaming
    assert stream.schema == expected.schema
    drained = spark.table(drain_to_memory(spark, f"stream_table_{name}", stream, "append"))
    rows = sorted(map(tuple, drained.collect()), key=repr)
    assert rows and rows == sorted(map(tuple, expected.collect()), key=repr)
