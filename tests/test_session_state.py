"""Session-state registry behaviour on the live session: a failed build
leaves no entry, one sf_dir is one entry whatever its spelling, and a
memoized build reads its tables as frames, not through the session's
global temp views."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from end2end_data_pipeline_spark.operators import dedup
from end2end_data_pipeline_spark.sources import tables
from tools.oracle_check import compare_query, duckdb_connection

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _entries_naming(spark, *names: str) -> list:
    """Registry keys whose text names any of ``names``."""
    return [
        k for k in tables._app_state(spark).entries
        if any(n in str(k) for n in names)
    ]


def test_failed_cc_loop_leaves_no_entry(spark, tmp_path, monkeypatch):
    """A connected-components loop that raises (too few iterations to
    converge) must leave neither the labels nor the loop's edge cache
    in the registry, so the next call runs the whole build again and
    gets the oracle's answer."""
    # a private copy of the fixture dir: the registry keys on the
    # absolute path, so no earlier test's labels can answer this one
    sf = tmp_path / "sf"
    sf.mkdir()
    for name in os.listdir(SF):
        (sf / name).symlink_to(os.path.join(SF, name))
    sf = str(sf)

    monkeypatch.setattr(dedup, "MAX_CC_ITERATIONS", 1)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(spark, sf).collect()
    assert _entries_naming(spark, f"cc_labels:{sf}", "cc_bidir_edges") == []

    monkeypatch.undo()
    con = duckdb_connection(sf)
    try:
        r = compare_query(
            dedup.dedup_clusters(spark, sf), con, entrymod.oracle_sql()["dedup_clusters"]
        )
    finally:
        con.close()
    assert r["rows_match"] and r["cols_match"] and r["values_match"], r
    assert _entries_naming(spark, f"cc_labels:{sf}")


def test_relative_and_absolute_sf_dir_share_one_entry(spark, monkeypatch):
    from end2end_data_pipeline_spark.operators.tpch_partsupp import _partsupp

    monkeypatch.chdir(os.path.dirname(SF01))
    rel = os.path.basename(SF01)
    assert _partsupp(spark, SF01) is _partsupp(spark, rel)
    tags = {f"derived_partsupp:{SF01}", f"derived_partsupp:{rel}"}
    assert [k for k in tables._app_state(spark).entries if k[-1] in tags] == [
        ("cached", f"derived_partsupp:{SF01}")
    ]


def test_cosupply_bfs_keeps_the_callers_temp_views(spark):
    """The recursion's edges come from this sf_dir's frames; the
    caller's own ``lineitem``/``supplier`` views survive the call
    unchanged."""
    name = "nation_cosupply_bfs_recursive"
    mine = {
        "lineitem": spark.createDataFrame([(1, "mine")], "id long, tag string"),
        "supplier": spark.createDataFrame([(2, "mine")], "id long, tag string"),
    }
    for view, df in mine.items():
        df.createOrReplaceTempView(view)
    try:
        con = duckdb_connection(SF01)
        try:
            r = compare_query(
                entrymod.queries()[name](spark, SF01), con, entrymod.oracle_sql()[name]
            )
        finally:
            con.close()
        assert r["rows_match"] and r["cols_match"] and r["values_match"], r
        for view, df in mine.items():
            assert spark.table(view).collect() == df.collect(), view
    finally:
        for view in mine:
            spark.catalog.dropTempView(view)
