"""A warm session compiles each generated class once: Spark's
generated-class cache (``spark.sql.codegen.cache.maxEntries``, set by
``session.get_spark``) holds the dashboard's working set, so running
the benchmark's 15 dashboard queries a second time compiles almost
nothing. With Spark's default of 100 entries the ~245 classes of one
pass evict each other and the second pass recompiles nearly all of
them."""

from __future__ import annotations

import __spark_entry__ as entrymod
from benchmark.datagen import write_tables
from benchmark.workloads import DASHBOARD_QUERIES, SF

# q8_market_share's plan settles after its second run: 4-6 of its
# classes were new on the second pass even with nothing evicted
SETTLING = 10


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, queries, sf_dir) -> int:
    """Classes compiled while every dashboard query runs once."""
    before = _compiles(spark)
    for name in DASHBOARD_QUERIES:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compiles(spark) - before


def test_second_dashboard_pass_reuses_the_generated_classes(spark, tmp_path):
    # the benchmark's own tables: its scale factor and first seed
    sf_dir = str(tmp_path / "sf")
    write_tables(sf_dir, SF, 1)
    queries = entrymod.queries()
    first, second = _pass(spark, queries, sf_dir), _pass(spark, queries, sf_dir)
    # earlier tests in the session may have compiled some of the classes
    # already, so the first pass compiles at most the whole working set
    assert second <= max(SETTLING, first // 10), (first, second)
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= first
