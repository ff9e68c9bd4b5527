"""Bucketed co-located join: prove the shuffle disappears.

The same orders⋈lineitem join is planned twice — over plain parquet
(expects shuffle Exchanges feeding the join) and over co-bucketed
tables (expects none) — and both must return identical results.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from end2end_data_pipeline_spark.sources.bucketing import cobucket_orders_lineitem
from end2end_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _join_agg(o, li):
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "cents"
            ),
        )
        .orderBy("o_orderstatus")
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bucketed"))
    return cobucket_orders_lineitem(spark, SF, out)


@pytest.fixture()
def no_broadcast(spark):
    """Force the sort-merge path: at sf0.001 both tables fit the
    broadcast threshold, which would hide the co-location effect this
    module demonstrates (at real scale neither side broadcasts)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _join_key_exchanges(plan: str) -> int:
    """Count shuffles whose partition keys are the JOIN keys (the
    aggregate's own group-key exchange doesn't count)."""
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        and ("o_orderkey" in line or "l_orderkey" in line)
    )


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    o_name, l_name = bucketed_tables
    joined = _join_agg(spark.table(o_name), spark.table(l_name))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0


def test_plain_join_does_shuffle(spark, no_broadcast):
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    plan = _join_agg(o, li)._jdf.queryExecution().executedPlan().toString()
    assert _join_key_exchanges(plan) == 2


def test_bucketed_and_plain_agree(spark, bucketed_tables):
    o_name, l_name = bucketed_tables
    bucketed = _join_agg(spark.table(o_name), spark.table(l_name)).collect()
    plain = _join_agg(
        load_table(spark, SF, "orders"), load_table(spark, SF, "lineitem")
    ).collect()
    assert sorted(map(tuple, bucketed)) == sorted(map(tuple, plain))


def test_bucketed_q3_twin_runs_without_join_exchange(spark, no_broadcast):
    """The registered q3 twin (operators/bucketed.py) must plan with
    ZERO hash exchanges end-to-end: the fact-fact join reads matching
    buckets pairwise, and the aggregate's group keys include the
    bucket key so it inherits the same partitioning. Broadcast is
    disabled, so only the explicit customer-side hint broadcasts —
    the shuffle elimination is the bucket layout's doing."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q3_shipping_priority_bucketed,
    )

    df = q3_shipping_priority_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0
    assert "Exchange hashpartitioning" not in plan


def test_bucketed_q12_twin_join_is_exchange_free(spark, no_broadcast):
    """The second member of the bucketed family: Q12's fact-fact join
    is exchange-free on the bucketed tables; its l_returnflag
    aggregation MAY shuffle (group key != bucket key) — only the join
    keys must see no Exchange."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q12_shipmode_priority_bucketed,
    )

    df = q12_shipmode_priority_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0


def test_bucketed_q3_twin_matches_plain(spark):
    from end2end_data_pipeline_spark.operators.bucketed import (
        q3_shipping_priority_bucketed,
    )
    from end2end_data_pipeline_spark.operators.tpch_like import (
        q3_shipping_priority,
    )

    twin = q3_shipping_priority_bucketed(spark, SF).collect()
    plain = q3_shipping_priority(spark, SF).collect()
    assert list(map(tuple, twin)) == list(map(tuple, plain))


def test_bucketed_q4_twin_semi_join_is_exchange_free(spark, no_broadcast):
    """Q4's EXISTS probe (left semi on the bucket key, with the
    non-equi shipdate condition riding along) must see no orderkey
    Exchange on the bucketed tables."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q4_order_priority_bucketed,
    )

    df = q4_order_priority_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "LeftSemi" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0


def test_bucketed_q18_twin_agg_and_join_exchange_free(spark, no_broadcast):
    """Q18's HAVING pre-aggregate groups by the bucket key, so the
    AGGREGATION inherits the scan partitioning too: no orderkey
    Exchange between either fact scan and the final top-N. The twin
    runs the plain q18 body, whose customer join has no hint; with
    broadcast disabled it shuffles on the customer key, which is not
    an orderkey exchange."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q18_large_orders_bucketed,
    )

    df = q18_large_orders_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0


def test_bucketed_q8_twin_join_is_exchange_free(spark, no_broadcast):
    """Q8's only fact-fact edge (orders ⋈ lineitem on the order key)
    must run bucket-pairwise even though BOTH sides pass through
    broadcast pre-reductions first — broadcast hash joins preserve the
    streamed side's bucket partitioning, so no orderkey Exchange may
    appear anywhere in the plan."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q8_market_share_bucketed,
    )

    df = q8_market_share_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert _join_key_exchanges(plan) == 0


def test_bucketed_q15_twin_agg_is_exchange_free(spark, no_broadcast):
    """Q15 over the suppkey-bucketed lineitem: the revenue rollup
    groups BY THE BUCKET KEY, so the aggregation inherits the scan
    partitioning — no l_suppkey/supplier_no Exchange anywhere (the
    max scalar and supplier dim are explicit broadcasts)."""
    from end2end_data_pipeline_spark.operators.bucketed import (
        q15_top_supplier_bucketed,
    )

    df = q15_top_supplier_bucketed(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert not any(
        "Exchange hashpartitioning" in line
        and ("l_suppkey" in line or "supplier_no" in line)
        for line in plan.splitlines()
    )


def test_bucketed_q8_q15_twins_match_plain(spark):
    from end2end_data_pipeline_spark.operators.bucketed import (
        q8_market_share_bucketed,
        q15_top_supplier_bucketed,
    )
    from end2end_data_pipeline_spark.operators.tpch_like import (
        q8_market_share,
        q15_top_supplier,
    )

    assert list(map(tuple, q8_market_share_bucketed(spark, SF).collect())) == list(
        map(tuple, q8_market_share(spark, SF).collect())
    )
    assert list(map(tuple, q15_top_supplier_bucketed(spark, SF).collect())) == list(
        map(tuple, q15_top_supplier(spark, SF).collect())
    )
