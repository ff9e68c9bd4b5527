"""TPC-H-shaped analytical queries over the driver's star schema —
the canonical relational workloads the reference never had (it is
single-table; SURVEY.md §2.5) but any warehouse replacement must run.
Shapes follow the TPC-H specification queries (public domain) adapted
to the driver's column set; money math uses exact integer cents so the
DuckDB oracle hashes identically (registry.py contract).

Scale notes: every join is an equi-join on a key column (SMJ/AQE
territory); predicates sit directly on scan columns (pushdown);
aggregates are partial-map-side. Q6's is the classic
full-pushdown/no-join scan; Q4/Q18 exercise semi-join and
HAVING-subquery shapes that Catalyst rewrites into aggregates+joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import load_table, register_views

CENTS = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"


def _facts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The plain-parquet orders and lineitem frames. Each query of the
    orders-lineitem family has a private body that takes these two
    frames; the registered query passes these, and its twin in
    operators/bucketed.py passes the co-bucketed copies."""
    return load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+aggregate, zero joins — the
    query whose entire cost is how much of the predicate reaches the
    parquet reader. All four predicates are scan-column comparisons
    (PushedFilters; verify with plan audit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast(
                "bigint"
            )
        ).alias("revenue_cents"),
        F.count("*").alias("n"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — expressed as a LEFT SEMI
    join (exactly what Catalyst rewrites EXISTS into), so the lineitem
    side never multiplies order rows."""
    return _q4_order_priority(spark, sf_dir, *_facts(spark, sf_dir))


def _q4_order_priority(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    o = orders.where(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = lineitem.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q12_shipmode_priority",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
           CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact equi-join + conditional aggregation
    (CASE inside SUM — the pivot's general form). The shipdate filter
    lands on the lineitem scan BEFORE the join (pushdown through
    join)."""
    return _q12_shipmode_priority(spark, sf_dir, *_facts(spark, sf_dir))


def _q12_shipmode_priority(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    o = orders.select("o_orderkey", "o_orderpriority")
    li = lineitem.where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q14_promo_share",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {CENTS} ELSE 0 END)
               AS BIGINT) AS promo_cents,
           CAST(SUM({CENTS}) AS BIGINT) AS total_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dimension with a LIKE-prefix classifier.
    The part side is far smaller than lineitem — broadcast it and the
    fact table never shuffles. Output is the exact integer numerator/
    denominator; the ratio is presentation."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    promo = F.col("p_type").startswith("PROMO")
    return li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).agg(
        F.sum(F.when(promo, cents).otherwise(0)).alias("promo_cents"),
        F.sum(cents).alias("total_cents"),
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 210
    )
    SELECT c_custkey, o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders
    JOIN big ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice_cents DESC, o_orderkey
    LIMIT 50
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-subquery (large-volume orders) feeding a
    two-level join, global top-N. The aggregate runs FIRST and shrinks
    the join input (orders join a tiny key set, not raw lineitem) —
    the order of operations that matters at 100 TB."""
    return _q18_large_orders(spark, sf_dir, *_facts(spark, sf_dir))


def _q18_large_orders(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 210)
        .select("l_orderkey")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias(
                "totalprice_cents"
            ),
        )
        .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
        .limit(50)
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
    GROUP BY o_orderkey, orderdate, o_orderpriority
    ORDER BY revenue_cents DESC, o_orderkey
    LIMIT 20
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: three-way join, each side pre-filtered at its
    scan, grouped revenue, global top-N. Customer filter is applied
    before the join so the semi-reduced key set drives it."""
    return _q3_shipping_priority(spark, sf_dir, *_facts(spark, sf_dir))


def _q3_shipping_priority(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = orders.where(F.col("o_orderdate") < "1997-01-01")
    li = lineitem.where(F.col("l_shipdate") > "1997-01-01")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    # broadcast the filtered customer keys into orders BEFORE the
    # fact-fact SMJ so the segment filter shrinks the shuffled side
    building_orders = o.join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(building_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .select("o_orderkey", "revenue_cents", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue_cents").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q16_parts_supplier_breadth",
    oracle="""
    SELECT p_brand, p_type,
           count(DISTINCT s_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_brand <> 'Brand#1' AND s_nationkey < 20
    GROUP BY p_brand, p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    LIMIT 40
    """,
)
def q16_parts_supplier_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: DISTINCT-count over a bridge join with
    negation predicates; suppliers is broadcast-sized."""
    register_views(spark, sf_dir, "part", "lineitem", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type,
               count(DISTINCT s_suppkey) AS supplier_cnt
        FROM part
        JOIN lineitem ON l_partkey = p_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE p_brand <> 'Brand#1' AND s_nationkey < 20
        GROUP BY p_brand, p_type
        ORDER BY supplier_cnt DESC, p_brand, p_type
        LIMIT 40
        """
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue_cents DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-way join where only orders⋈lineitem is
    fact-fact — every dimension (customer, supplier, nation, region)
    is explicitly broadcast, so the single shuffle is the orderkey
    SMJ, with the date filter pre-reducing orders at its scan. The
    c_nationkey = s_nationkey 'local supplier' predicate rides the
    lineitem join as a post-join filter on two broadcast columns."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), "n_name")
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey,
           any_value(c_name) AS c_name,
           CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents,
           any_value(n_name) AS n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.
    Both fact scans are pre-filtered (quarter on orders, returnflag on
    lineitem) before the orderkey SMJ; customer and nation broadcast."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey")
        .agg(
            F.any_value("c_name").alias("c_name"),
            F.sum(cents).alias("revenue_cents"),
            F.any_value("n_name").alias("n_name"),
        )
        .orderBy(F.col("revenue_cents").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q13_customer_distribution",
    oracle="""
    WITH per_customer AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           count(*) AS custdist
    FROM per_customer
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram over a LEFT join whose
    predicate lives in the join condition (customers with zero
    matching orders must survive with count 0) — the join-filter vs
    where-filter distinction outer joins make load-bearing. Two
    aggregations: per-customer count, then O(|distinct counts|)
    histogram."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_orderkey", "o_custkey")
    per_customer = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q22_dormant_high_balance",
    oracle="""
    WITH cutoff AS (
      SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT n_name,
           count(*) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS totacctbal_cents
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT avg_bal FROM cutoff)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q22_dormant_high_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted to the fixture's schema, which has no
    phone column): customers with above-average positive balance and
    NO orders, rolled up by nation. Composes a scalar subquery (the
    global average, one tiny job), an anti-join against orders'
    custkey set, and a broadcast nation rollup — at scale the
    anti-join is the only fact shuffle, and it carries custkeys, not
    rows."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = c.join(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (
        dormant.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
            .cast("bigint")
            .alias("totacctbal_cents"),
        )
        .orderBy("n_name")
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS cust_nation,
           n2.n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_9')
        OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_2'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The nation pair predicate is pushed into BOTH broadcast
    dims before the fact joins — customer and supplier each shrink to
    ~1/25 of their rows ahead of the only real shuffle (the orderkey
    SMJ), instead of filtering the joined fact stream after the fact."""
    n = load_table(spark, sf_dir, "nation")
    pair = n.where(F.col("n_name").isin("NATION_2", "NATION_9"))
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("c_nk"),
                                    F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey", "cust_nation")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair.select(F.col("n_nationkey").alias("s_nk"),
                                    F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy("cust_nation", "supp_nation", "l_year")
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey AS ap_partkey,
             SUM(l_quantity) / CAST(count(*) AS DOUBLE) AS avg_q
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS small_lot_cents,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON ap_partkey = l_partkey
    WHERE p_brand = 'Brand#2'
      AND l_quantity * 5 < avg_q * 2
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate+join — the rewrite
    Catalyst itself applies to the spec's correlated form, written
    explicitly so the plan is deterministic. The threshold compare is
    cross-multiplied (qty*5 < avg*2 instead of qty < 0.4*avg) to keep
    one side exact-integer. Per-part averages are a map-side-combined
    aggregate; the probe join is broadcast (parts are dimension-sized)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#2"
    ).select("p_partkey")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum("l_quantity") / F.count("*").cast("double")).alias("avg_q")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(avg_qty), F.col("ap_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") * 5 < F.col("avg_q") * 2)
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("small_lot_cents"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({CENTS}) AS BIGINT) AS revenue_cents,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 15 AND 35)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 25 AND 45)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd conjunctive branches spanning both
    join sides. The common l_partkey = p_partkey equi-condition is kept
    OUT of the disjunction so the join stays a broadcast hash join with
    the OR as a post-join filter — folding it into the OR would force a
    nested-loop join (the spec's trap)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(15, 35)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(25, 45)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH multi AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING count(DISTINCT l_suppkey) > 1
    ), late AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1997-06-01'
    )
    SELECT s_name, count(*) AS numwait
    FROM late
    JOIN multi ON late.l_orderkey = multi.l_orderkey
    JOIN orders ON o_orderkey = late.l_orderkey AND o_orderstatus = 'F'
    JOIN supplier ON s_suppkey = late.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: the fixture has no receipt/commit
    dates, so 'late' = shipped after a cutoff): suppliers who shipped
    late on finalized multi-supplier orders. Composes a HAVING
    distinct-count subquery, a DISTINCT projection, a semi-join-style
    reduction, and two broadcast dims — the aggregates run against
    lineitem FIRST so the joins move order keys, not line items."""
    li = load_table(spark, sf_dir, "lineitem")
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("n_supp"))
        .where(F.col("n_supp") > 1)
        .select("l_orderkey")
    )
    late = (
        li.where(F.col("l_shipdate") > "1997-06-01")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    china_supp = s.join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        late.join(multi, "l_orderkey")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(china_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             {CENTS} AS volume_cents,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
        AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                         THEN volume_cents ELSE 0 END) AS BIGINT)
               AS nation_cents,
           CAST(SUM(volume_cents) AS BIGINT) AS total_cents,
           SUM(CASE WHEN supp_nation = 'NATION_3'
                    THEN volume_cents ELSE 0 END)
               / CAST(SUM(volume_cents) AS DOUBLE) AS mkt_share
    FROM all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    AMERICA-customer ECONOMY-part revenue by order year. Eight-way
    join where everything except orders ⋈ lineitem is a broadcast:
    lineitem is pre-reduced by the broadcast part filter (~1/6 of
    rows) and orders by the date filter + broadcast AMERICA-customer
    semi-reduction BEFORE the single fact-fact shuffle. The share is
    a DOUBLE division of two exactly-summed BIGINT cent totals, so
    the oracle hash is engine-stable (registry.py contract)."""
    return _q8_market_share(spark, sf_dir, *_facts(spark, sf_dir))


def _q8_market_share(
    spark: SparkSession, sf_dir: str, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    li = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    ).join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    america_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("am_nk"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(america_nations), F.col("c_nationkey") == F.col("am_nk")
    ).select("c_custkey")
    o = orders.where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "o_orderdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    nation_cents = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", cents).otherwise(F.lit(0))
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            nation_cents.alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
            (nation_cents / F.sum(cents).cast("double")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_cents
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier, the spec's CREATE VIEW query):
    quarterly revenue per supplier, keep the max. The revenue agg is
    computed ONCE and reused for both the max scalar and the final
    filter (Spark reuses the exchange; the 1-row max side is
    broadcast, so no second scan of lineitem and no driver collect).
    Ties all surface (= max, not row_number), ordered by s_suppkey."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(cents).alias("total_revenue_cents")
    )
    top = revenue.agg(F.max("total_revenue_cents").alias("max_cents"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(
            F.broadcast(top),
            F.col("total_revenue_cents") == F.col("max_cents"),
        )
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy("s_suppkey")
    )
