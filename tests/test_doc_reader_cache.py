"""The JSONL and CSV readers cache each landed batch per absolute path
and file identity: a file that lands in the directory later is read,
and a relative spelling of the same directory shares the absolute
spelling's entry."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from end2end_data_pipeline_spark.sources import tables
from end2end_data_pipeline_spark.sources.csv_docs import read_csv_docs
from end2end_data_pipeline_spark.sources.jsonl import read_jsonl_docs

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

READERS = {
    "jsonl": (read_jsonl_docs, lambda i: f'{{"doc_id": {i}, "lang": "en"}}', "no json"),
    "csv": (read_csv_docs, lambda i: f"{i},en", "1,en,too,many"),
}


@pytest.mark.parametrize("fmt", sorted(READERS))
def test_later_file_is_read_and_relative_path_shares_the_entry(
    spark, tmp_path, monkeypatch, fmt
):
    read, good_line, dead_line = READERS[fmt]
    docs = tmp_path / "docs"
    docs.mkdir()
    lines = [good_line(i) for i in range(3)] + [dead_line]
    (docs / f"a.{fmt}").write_text("\n".join(lines) + "\n")

    good, dead = read(spark, str(docs), SCHEMA)
    assert (good.count(), dead.count()) == (3, 1)

    (docs / f"b.{fmt}").write_text("\n".join(good_line(i) for i in range(3, 8)) + "\n")
    good, dead = read(spark, str(docs), SCHEMA)
    assert (good.count(), dead.count()) == (8, 1)

    n_entries = len(tables._app_state(spark).entries)
    monkeypatch.chdir(tmp_path)
    good, dead = read(spark, "docs", SCHEMA)
    assert (good.count(), dead.count()) == (8, 1)
    assert len(tables._app_state(spark).entries) == n_entries
