"""Data-quality / profiling operators: exact rank statistics, column
profiles, referential-integrity audits, and time-series anomaly
flags — the checks a warehouse runs continuously over an ingest
pipeline (the reference validates nothing after its Kafka sink lands;
``db/clickhouse_table_schema.sql`` simply trusts the producer).

Scale notes per query are inline; the shared posture: profiles and
audits reduce to O(columns) / O(relationships) rows via partial
aggregation, anomaly scoring windows over an O(minutes) rollup, and
the only per-group sort (exact deciles) is the documented exact twin
of the sketch path (``events_approx_quantiles``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.operators.event_analytics import (
    SESSION_GAP_MINUTES,
    _first_view_purchase,
    _minute_spine,
    _sessionized,
)
from end2end_data_pipeline_spark.operators.similarity import (
    _qbase,
    _qbase_sql,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    register_views,
    session_cached,
)


@query(
    "event_value_deciles",
    # rank arithmetic, not an engine quantile builtin: decile d is the
    # value at 1-indexed rank ceil(n*d/10) under a deterministic
    # (value, event_id) order — both engines compute the identical
    # integer rank, so the emitted value is the same physical row.
    oracle="""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, CAST(d AS INT) AS decile, value AS decile_value
    FROM ranked, range(1, 10) AS t(d)
    WHERE rn = (d * n + 9) // 10
    ORDER BY event_type, decile
    """,
)
def event_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT deciles of event value per type via explicit rank
    arithmetic (the discrete-percentile contract: an actual data
    value, no interpolation — so the result is bit-identical across
    engines, unlike percentile_cont whose float interpolation is not).

    Scale: computed from the per-(type, value) HISTOGRAM CDF (the
    ship_latency_percentiles_by_nation device): the decile at rank
    r = ceil(n*d/10) under (value, event_id) order is the value whose
    contiguous rank block [cum-cnt+1, cum] contains r — the event_id
    tie-break never changes which VALUE holds a rank, and only the
    value is emitted. So the fact table folds through one map-side-
    combined aggregate and the sort window runs over distinct values per
    type (bounded by value cardinality), not over every event — the
    r13 form sorted the WHOLE fact table inside |event_type| window
    partitions, a single-partition-per-type sort at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type", "value")
        .agg(F.count("*").alias("cnt"))
    )
    wo = Window.partitionBy("event_type").orderBy("value")
    cdf = hist.select(
        "event_type",
        "value",
        "cnt",
        F.sum("cnt")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("n"),
    )
    return (
        cdf.select(
            "event_type",
            "value",
            F.explode(
                F.expr(
                    "filter(sequence(1, 9), d -> "
                    "(d * n + 9) div 10 BETWEEN cum - cnt + 1 AND cum)"
                )
            ).alias("decile"),
        )
        .select(
            "event_type",
            F.col("decile").cast("int").alias("decile"),
            F.col("value").alias("decile_value"),
        )
        .orderBy("event_type", "decile")
    )


_ORDERS_COLS = (
    "o_custkey",
    "o_orderdate",
    "o_orderkey",
    "o_orderpriority",
    "o_orderstatus",
    "o_totalprice",
)


def _profile_oracle() -> str:
    aggs = ", ".join(
        f"count({c}) AS nn_{c}, count(DISTINCT {c}) AS nd_{c}"
        for c in _ORDERS_COLS
    )
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, n_rows - nn_{c} AS n_nulls, "
        f"nd_{c} AS n_distinct FROM s"
        for c in _ORDERS_COLS
    )
    return (
        f"WITH s AS (SELECT count(*) AS n_rows, {aggs} FROM orders)\n"
        f"{arms} ORDER BY column_name"
    )


@query("orders_column_profile", oracle=_profile_oracle())
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders`` — row count, null count,
    exact distinct count — the table-health snapshot every ingest
    pipeline records per batch.

    Scale: ONE pass over the table; the multiple exact distincts
    plan as a single Expand (|columns| x row multiplier) feeding
    partial aggs. At 100 TB you'd flip the distinct columns to
    approx_count_distinct (same shape, no Expand, mergeable
    sketches) — kept exact here so the oracle can value-check it;
    the unpivot to one row per column happens on the 1-row
    aggregate, driver-trivial."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _ORDERS_COLS:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    row = o.agg(*aggs)
    arms = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            for c in _ORDERS_COLS
        ]
    )
    return (
        row.select("n_rows", F.explode(arms).alias("s"))
        .select("s.column_name", "n_rows", "s.n_nulls", "s.n_distinct")
        .orderBy("column_name")
    )


# (name, child table, child key, parent table, parent key)
_FK_RELS = (
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _fk_oracle() -> str:
    arms = " UNION ALL ".join(
        f"""
        SELECT '{name}' AS relationship,
               count(*) AS n_child,
               CAST(SUM(CASE WHEN c.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null_keys,
               CAST(SUM(CASE WHEN c.k IS NOT NULL AND p.pk IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        FROM (SELECT {ck} AS k FROM {child}) c
        LEFT JOIN (SELECT DISTINCT {pk} AS pk FROM {parent}) p ON c.k = p.pk
        """
        for name, child, ck, parent, pk in _FK_RELS
    )
    return arms + " ORDER BY relationship"


@query("fk_orphan_audit", oracle=_fk_oracle())
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the star
    schema: child rows, null keys, and orphans (non-null child key
    with no parent). The continuous version of the constraint checks
    a lakehouse cannot enforce at write time.

    Scale: each edge is one left join against the DISTINCT parent
    keys — dimensions broadcast; the two fact-fact edges
    (lineitem->orders/part/supplier at real scale) are plain
    shuffle joins on the key they'd be bucketed by (the bucketed
    layout of ``operators/bucketed.py`` makes the orders edge
    shuffle-free). Output is O(|edges|)."""
    parts = []
    for name, child, ck, parent, pk in _FK_RELS:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("__hit", F.lit(1))
        )
        marked = c.join(p, "k", "left")
        parts.append(
            marked.agg(
                F.count("*").alias("n_child"),
                F.sum(F.col("k").isNull().cast("int"))
                .cast("bigint")
                .alias("n_null_keys"),
                F.sum(
                    (F.col("k").isNotNull() & F.col("__hit").isNull()).cast(
                        "int"
                    )
                )
                .cast("bigint")
                .alias("n_orphans"),
            ).select(
                F.lit(name).alias("relationship"),
                "n_child",
                "n_null_keys",
                "n_orphans",
            )
        )
    return reduce(DataFrame.unionByName, parts).orderBy("relationship")


TRAIL_MINUTES = 60


@query(
    "minute_anomaly_ratio",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS m
      FROM bounds
    ), counts AS (
      SELECT date_trunc('minute', ts) AS m, count(*) AS c
      FROM events GROUP BY 1
    ), dense AS (
      SELECT spine.m, CAST(COALESCE(c, 0) AS BIGINT) AS n_events
      FROM spine LEFT JOIN counts ON spine.m = counts.m
    ), trailed AS (
      SELECT m, n_events,
             CAST(COALESCE(SUM(n_events) OVER w, 0) AS BIGINT) AS trailing_sum,
             CAST(COUNT(*) OVER w AS BIGINT) AS trailing_n
      FROM dense
      WINDOW w AS (ORDER BY m ROWS BETWEEN {TRAIL_MINUTES} PRECEDING
                                       AND 1 PRECEDING)
    )
    SELECT strftime(m, '%Y-%m-%d %H:%M') AS event_minute,
           n_events, trailing_sum, trailing_n,
           CAST(n_events * trailing_n AS DOUBLE) / NULLIF(trailing_sum, 0)
               AS ratio,
           CAST(CASE WHEN trailing_n > 0
                      AND n_events * trailing_n >= 2 * trailing_sum
                THEN 1 ELSE 0 END AS INT) AS is_spike,
           CAST(CASE WHEN trailing_n > 0
                      AND 2 * n_events * trailing_n <= trailing_sum
                THEN 1 ELSE 0 END AS INT) AS is_drop
    FROM trailed ORDER BY event_minute
    """,
)
def minute_anomaly_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-style anomaly score in batch: each minute's event
    count vs its trailing {TRAIL}-minute baseline, with integer-exact
    spike (>= 2x baseline mean) and drop (<= 0.5x) flags; the ratio
    itself is a single division of exact integers, so even the DOUBLE
    column is bit-stable cross-engine.

    Scale: the window runs over the DENSE minute rollup (O(minutes)
    rows — a year is ~526k), not over events, following the
    precedent of ``orders_mom_growth``'s months window; the only
    fact-scan work is the minute partial-agg. The single-partition
    window over the rollup is the documented trade — at a horizon
    where even minutes overflow one partition, cut the spine into
    day ranges with {TRAIL}-minute overlap."""
    ev = load_table(spark, sf_dir, "events")
    spine = _minute_spine(ev)
    counts = ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        F.count("*").alias("c")
    )
    dense = spine.join(counts, "m", "left").select(
        "m", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_events")
    )
    w = Window.orderBy("m").rowsBetween(-TRAIL_MINUTES, -1)
    trailed = dense.select(
        "m",
        "n_events",
        F.coalesce(F.sum("n_events").over(w), F.lit(0))
        .cast("bigint")
        .alias("trailing_sum"),
        F.count("*").over(w).cast("bigint").alias("trailing_n"),
    )
    spike = (F.col("trailing_n") > 0) & (
        F.col("n_events") * F.col("trailing_n") >= 2 * F.col("trailing_sum")
    )
    drop = (F.col("trailing_n") > 0) & (
        2 * F.col("n_events") * F.col("trailing_n") <= F.col("trailing_sum")
    )
    return trailed.select(
        F.date_format("m", "yyyy-MM-dd HH:mm").alias("event_minute"),
        "n_events",
        "trailing_sum",
        "trailing_n",
        (
            (F.col("n_events") * F.col("trailing_n")).cast("double")
            / F.nullif(F.col("trailing_sum"), F.lit(0))
        ).alias("ratio"),
        spike.cast("int").alias("is_spike"),
        drop.cast("int").alias("is_drop"),
    ).orderBy("event_minute")


minute_anomaly_ratio.__doc__ = minute_anomaly_ratio.__doc__.replace(
    "{TRAIL}", str(TRAIL_MINUTES)
)


@query(
    "orders_backlog_over_time",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey,
             CAST(o.o_orderdate AS DATE) AS open_day,
             CAST(COALESCE(max(l.l_shipdate), o.o_orderdate) AS DATE)
                 AS close_day
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ), deltas AS (
      SELECT open_day AS day, 1 AS delta, 1 AS opened, 0 AS closed FROM spans
      UNION ALL
      SELECT close_day + 1, -1, 0, 1 FROM spans
    ), daily AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS delta,
             CAST(SUM(opened) AS BIGINT) AS n_opened,
             CAST(SUM(closed) AS BIGINT) AS n_closed
      FROM deltas GROUP BY day
    ), bounds AS (
      SELECT min(open_day) AS dmin, max(close_day) AS dmax FROM spans
    ), spine AS (
      SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    )
    SELECT CAST(s.day AS VARCHAR) AS day,
           CAST(COALESCE(n_opened, 0) AS BIGINT) AS n_opened,
           CAST(COALESCE(n_closed, 0) AS BIGINT) AS n_closed,
           CAST(SUM(COALESCE(d.delta, 0)) OVER (ORDER BY s.day) AS BIGINT)
               AS open_orders
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    ORDER BY day
    """,
)
def orders_backlog_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day via the SWEEP-LINE pattern: each
    order contributes a +1 event at its order date and a -1 the day
    after its last shipment; the running sum over the day spine is the
    number of concurrently-open orders — interval counting WITHOUT a
    per-day band join against every open interval.

    Scale: the fact collapses to one (open, close) span per order
    (partial-agg max over lineitem, the only big shuffle); deltas are
    2 rows per order rolled up to O(days); the running sum windows
    over the O(days) spine (same precedent as
    ``minute_anomaly_ratio``). A band join alternative would fan each
    day into every open order — quadratic in backlog depth; the
    sweep-line is linear and is how you count concurrency at 100 TB."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    spans = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("max_ship"))
        .select(
            F.to_date("o_orderdate").alias("open_day"),
            F.to_date(
                F.coalesce(F.col("max_ship"), F.col("o_orderdate"))
            ).alias("close_day"),
        )
    )
    # explode both delta rows from ONE spans frame — a union of two
    # selects re-executes the whole orders x lineitem span pipeline
    # per branch (the session_concurrency_timeline lesson; guide §2.4)
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("open_day").alias("day"),
                    F.lit(1).alias("delta"),
                    F.lit(1).alias("opened"),
                    F.lit(0).alias("closed"),
                ),
                F.struct(
                    F.date_add("close_day", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                    F.lit(0).alias("opened"),
                    F.lit(1).alias("closed"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    daily = (
        deltas.groupBy("day")
        .agg(
            F.sum("delta").cast("bigint").alias("delta"),
            F.sum("opened").cast("bigint").alias("n_opened"),
            F.sum("closed").cast("bigint").alias("n_closed"),
        )
    )
    bounds = spans.agg(
        F.min("open_day").alias("dmin"), F.max("close_day").alias("dmax")
    )
    spine = bounds.select(
        F.explode(F.sequence("dmin", "dmax", F.expr("INTERVAL 1 DAY"))).alias(
            "day"
        )
    )
    w = Window.orderBy("day")
    return (
        spine.join(daily, "day", "left")
        .select(
            "day",
            F.coalesce(F.col("n_opened"), F.lit(0))
            .cast("bigint")
            .alias("n_opened"),
            F.coalesce(F.col("n_closed"), F.lit(0))
            .cast("bigint")
            .alias("n_closed"),
            F.sum(F.coalesce(F.col("delta"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("open_orders"),
        )
        .select(
            F.col("day").cast("string").alias("day"),
            "n_opened",
            "n_closed",
            "open_orders",
        )
        .orderBy("day")
    )


@query(
    "embedding_dim_variance_profile",
    oracle=_qbase_sql()
    + """
    , ex AS (
      SELECT CAST(d AS INT) AS dim, qv[d] AS val
      FROM qbase, range(1, 65) AS t(d)
      WHERE qv IS NOT NULL
    )
    SELECT dim,
           count(*) AS n,
           CAST(SUM(val) AS BIGINT) AS s_sum,
           CAST(SUM(val * val) AS BIGINT) AS s_sumsq,
           CAST(SUM(val) AS DOUBLE) / count(*) AS mean,
           (CAST(count(*) AS DOUBLE) * CAST(SUM(val * val) AS DOUBLE)
            - CAST(SUM(val) AS DOUBLE) * CAST(SUM(val) AS DOUBLE))
               / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))
               AS variance
    FROM ex GROUP BY dim ORDER BY dim
    """,
)
def embedding_dim_variance_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-dimension health profile of the embedding column: count,
    integer-exact sum and sum-of-squares over the quantized vectors,
    plus mean and population variance — the 'is a dimension dead /
    saturated / drifting' check run before trusting ANN structures.
    Integer reductions keep the aggregates order-insensitive; mean
    and variance are then single fixed-shape divisions of exact
    integers, so even the DOUBLE columns are bit-stable cross-engine.

    Scale: posexplode fans each vector into 64 (dim, value) rows
    feeding a partial agg — a constant-factor expansion that
    map-side-combines down to O(64) groups before the shuffle; the
    alternative (elementwise array-sum aggregate) saves the fanout
    but loses whole-stage codegen. No joins, no sort."""
    base = _qbase(spark, sf_dir)
    ex = base.select(F.posexplode("qv").alias("pos", "val"))
    v = F.col("val")
    return (
        ex.groupBy((F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.sum(v).cast("bigint").alias("s_sum"),
            F.sum(v * v).cast("bigint").alias("s_sumsq"),
        )
        .select(
            "dim",
            "n",
            "s_sum",
            "s_sumsq",
            (F.col("s_sum").cast("double") / F.col("n")).alias("mean"),
            # variance numerator in DOUBLE on both engines (r13
            # overflow audit): n * s_sumsq is ~n^2 * E[v^2] and crosses
            # int64 near n ~ 1e6 vectors (~sf5); the component sums
            # stay exact int64 (s_sumsq <= n * SCALE^2 ~ 2e16 at
            # sf1000) and each double cast is one correctly-rounded op
            # in the identical order on both engines.
            (
                (
                    F.col("n").cast("double") * F.col("s_sumsq").cast("double")
                    - F.col("s_sum").cast("double")
                    * F.col("s_sum").cast("double")
                )
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).alias("variance"),
        )
        .orderBy("dim")
    )


@query(
    "customer_pareto_share",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS spend_cents
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT spend_cents,
             ntile(10) OVER (ORDER BY spend_cents DESC, o_custkey) AS decile
      FROM cust
    ), per_decile AS (
      SELECT decile, count(*) AS n_customers,
             CAST(SUM(spend_cents) AS BIGINT) AS decile_cents
      FROM ranked GROUP BY decile
    ), tot AS (
      SELECT CAST(SUM(spend_cents) AS BIGINT) AS total_cents FROM cust
    )
    SELECT CAST(decile AS INT) AS decile, n_customers, decile_cents,
           CAST(SUM(decile_cents) OVER (ORDER BY decile) AS BIGINT)
               AS cum_cents,
           CAST(SUM(decile_cents) OVER (ORDER BY decile) AS DOUBLE)
               / total_cents AS cum_share
    FROM per_decile CROSS JOIN tot
    ORDER BY decile
    """,
)
def customer_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) curve: customers ranked into
    spend deciles (best first), with cumulative revenue share — 'do
    20% of customers produce 80% of revenue'. Money in exact integer
    cents; the share is one division of exact integers.

    Scale: the fact collapses to an O(customers) rollup first; the
    ntile global sort runs over that rollup, not the facts (precedent:
    ``customer_rfm_segments``, whose percentile-bucketed variant shows
    the no-global-sort alternative if even the rollup is too big);
    the cumulative window runs over the 10-row decile table."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cust = o.groupBy("o_custkey").agg(
        F.sum(cents).cast("bigint").alias("spend_cents")
    )
    wd = Window.orderBy(F.col("spend_cents").desc(), F.col("o_custkey"))
    ranked = cust.select("spend_cents", F.ntile(10).over(wd).alias("decile"))
    per_decile = ranked.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("spend_cents").cast("bigint").alias("decile_cents"),
    )
    tot = cust.agg(F.sum("spend_cents").cast("bigint").alias("total_cents"))
    wc = Window.orderBy("decile")
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "decile_cents",
            F.sum("decile_cents").over(wc).cast("bigint").alias("cum_cents"),
            (
                F.sum("decile_cents").over(wc).cast("double")
                / F.col("total_cents")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


_DELAY_BANDS_SQL = """CASE WHEN delay_ms <= 3600000 THEN 'a_1h'
                WHEN delay_ms <= 21600000 THEN 'b_6h'
                WHEN delay_ms <= 86400000 THEN 'c_24h'
                WHEN delay_ms <= 604800000 THEN 'd_7d'
                ELSE 'e_gt7d' END"""


@query(
    "event_conversion_delay_histogram",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
               AS first_view_ms,
             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END)
               AS first_purchase_ms
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT first_purchase_ms - first_view_ms AS delay_ms
      FROM firsts
      WHERE first_view_ms IS NOT NULL
        AND first_purchase_ms > first_view_ms
    )
    SELECT {_DELAY_BANDS_SQL} AS delay_band,
           count(*) AS n_users
    FROM conv GROUP BY delay_band ORDER BY delay_band
    """,
)
def event_conversion_delay_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversion-delay distribution: for users whose first purchase
    follows their first view (same basis as
    ``event_funnel_conversion``), the first-view→first-purchase delay
    bucketed into 1h/6h/24h/7d bands — the 'how long does the funnel
    take' companion to the how-many conversion count. Integer
    epoch-ms arithmetic end to end.

    Scale: one conditional-min shuffle on user_id, then an O(users)
    rollup into five bands — no self-join, no window."""
    firsts = _first_view_purchase(load_table(spark, sf_dir, "events"))
    conv = firsts.where(
        F.col("first_view_ms").isNotNull()
        & (F.col("first_purchase_ms") > F.col("first_view_ms"))
    ).select(
        (F.col("first_purchase_ms") - F.col("first_view_ms")).alias(
            "delay_ms"
        )
    )
    return (
        conv.select(F.expr(_DELAY_BANDS_SQL).alias("delay_band"))
        .groupBy("delay_band")
        .agg(F.count("*").alias("n_users"))
        .orderBy("delay_band")
    )


TIER_WIDTH_CENTS = 5_000_000  # $50k monthly-spend tier width
N_TIERS = 4


@query(
    "customer_spend_tier_transitions",
    oracle=f"""
    WITH monthly AS (
      SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY o_custkey, month
    ), tiered AS (
      SELECT o_custkey, month,
             CAST(LEAST({N_TIERS - 1}, cents // {TIER_WIDTH_CENTS}) AS INT)
                 AS tier
      FROM monthly
    ), lagged AS (
      SELECT tier AS tier_to,
             lag(tier) OVER (PARTITION BY o_custkey ORDER BY month)
                 AS tier_from
      FROM tiered
    )
    SELECT tier_from, tier_to, count(*) AS n_transitions
    FROM lagged WHERE tier_from IS NOT NULL
    GROUP BY tier_from, tier_to ORDER BY tier_from, tier_to
    """,
)
def customer_spend_tier_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer value-ladder movement: monthly spend bucketed into
    integer tiers ($50k bands, capped at tier {MAXT}), transitions
    counted between a customer's consecutive ACTIVE months (gaps
    collapse — documented semantics) — the upgrade/downgrade matrix
    behind lifecycle marketing.

    Scale: facts collapse to the O(customers x active-months) rollup
    first; the lag window partitions by customer over that rollup
    (months per customer is small); output is the
    {NT}x{NT} transition matrix."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    monthly = o.groupBy(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    tiered = monthly.select(
        "o_custkey",
        "month",
        F.least(
            F.lit(N_TIERS - 1),
            (F.col("cents") / TIER_WIDTH_CENTS).cast("bigint"),
        )
        .cast("int")
        .alias("tier"),
    )
    wl = Window.partitionBy("o_custkey").orderBy("month")
    lagged = tiered.select(
        F.col("tier").alias("tier_to"),
        F.lag("tier").over(wl).alias("tier_from"),
    )
    return (
        lagged.where(F.col("tier_from").isNotNull())
        .groupBy("tier_from", "tier_to")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("tier_from", "tier_to")
    )


customer_spend_tier_transitions.__doc__ = (
    customer_spend_tier_transitions.__doc__.replace(
        "{MAXT}", str(N_TIERS - 1)
    ).replace("{NT}", str(N_TIERS))
)


@query(
    "event_error_rate_wilson",
    # identical expression TREE on both engines: every intermediate is
    # a correctly-rounded IEEE op (/, *, +, -, sqrt) over exact
    # integers and the double constant 1.96 (CAST from decimal ==
    # strtod — the nearest double), so lo/hi are bit-stable.
    oracle="""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY day
    )
    SELECT day, n_events, n_errors,
           CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS rate,
           ((CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
               / (2 * CAST(n_events AS DOUBLE))
             - CAST(1.96 AS DOUBLE) * sqrt(
                 (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
                 * (1 - CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
                 / CAST(n_events AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) / (2 * CAST(n_events AS DOUBLE)))
                   * (CAST(1.96 AS DOUBLE) / (2 * CAST(n_events AS DOUBLE)))
               ))
           / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / CAST(n_events AS DOUBLE)) AS wilson_lo,
           ((CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
               / (2 * CAST(n_events AS DOUBLE))
             + CAST(1.96 AS DOUBLE) * sqrt(
                 (CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
                 * (1 - CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
                 / CAST(n_events AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) / (2 * CAST(n_events AS DOUBLE)))
                   * (CAST(1.96 AS DOUBLE) / (2 * CAST(n_events AS DOUBLE)))
               ))
           / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                  / CAST(n_events AS DOUBLE)) AS wilson_hi
    FROM daily ORDER BY day
    """,
)
def event_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-event share with a Wilson 95% confidence interval —
    the monitoring-grade version of a raw rate: narrow on busy days,
    honest about uncertainty on quiet ones (a raw 2/10 day and a
    2000/10000 day stop looking alike).

    Scale: one day-keyed partial agg over the fact scan; the CI math
    is per-row arithmetic over the O(days) rollup. Every float op is
    a correctly-rounded IEEE operation over exact integer counts with
    an identical expression tree on both engines, so even lo/hi
    hash-match."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("n_errors"),
    )
    z = F.lit(1.96)
    nd = F.col("n_events").cast("double")
    p = F.col("n_errors").cast("double") / nd
    center = p + (z * z) / (F.lit(2) * nd)
    half_m = z / (F.lit(2) * nd)
    margin = z * F.sqrt(p * (F.lit(1) - p) / nd + half_m * half_m)
    denom = F.lit(1) + (z * z) / nd
    return daily.select(
        "day",
        "n_events",
        "n_errors",
        p.alias("rate"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    ).orderBy("day")


def _latest_event_oracle() -> str:
    from end2end_data_pipeline_spark.registry import ORACLE

    return ORACLE["latest_event_per_user"]


@query("latest_event_per_user_maxby", oracle=_latest_event_oracle())
def latest_event_per_user_maxby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-sort scale path ``latest_event_per_user``'s docstring
    promises: instead of a row_number window (full sort of every
    user's rows), reduce each user to their lexicographic-max
    (ts, event_id, payload...) struct with a plain aggregate —
    partial-combines map-side, never materializes a sorted partition,
    and ties break on event_id exactly like the window's ORDER BY.
    Same oracle as the window twin: the plan choice must be
    value-invisible.

    Scale: one groupBy shuffle moving ONE struct per user after
    map-side combine (vs the window's full row shuffle + sort); the
    canonical argmax-per-key pattern at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    best = ev.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value")
        ).alias("b")
    )
    return best.select(
        "user_id",
        F.col("b.event_id").alias("last_event_id"),
        F.col("b.event_type").alias("last_type"),
        F.col("b.value").alias("last_value"),
        F.date_format("b.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
    ).orderBy("user_id")


@query(
    "lineitem_ship_latency_bands",
    oracle="""
    WITH lat AS (
      SELECT o_orderpriority,
             date_diff('day', CAST(o_orderdate AS DATE),
                       CAST(l_shipdate AS DATE)) AS latency_days
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    )
    SELECT o_orderpriority,
           CASE WHEN latency_days <= 30 THEN 'a_30d'
                WHEN latency_days <= 60 THEN 'b_60d'
                WHEN latency_days <= 90 THEN 'c_90d'
                ELSE 'd_gt90d' END AS latency_band,
           count(*) AS n_lines,
           CAST(min(latency_days) AS BIGINT) AS min_days,
           CAST(max(latency_days) AS BIGINT) AS max_days
    FROM lat GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def lineitem_ship_latency_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fulfillment latency: order-date→ship-date delay per line,
    banded (30/60/90 days) and cross-tabbed by order priority — the
    SLA view of the orders⋈lineitem join ('do URGENT orders actually
    ship faster'). Integer day arithmetic end to end.

    Scale: the standard fact-fact equi-join (bucketed layout makes it
    exchange-free; see ``operators/bucketed.py``) followed by a
    partial agg to O(priorities x 4 bands) rows."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lat = o.join(li, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "latency_days"
        ),
    )
    band = (
        F.when(F.col("latency_days") <= 30, "a_30d")
        .when(F.col("latency_days") <= 60, "b_60d")
        .when(F.col("latency_days") <= 90, "c_90d")
        .otherwise("d_gt90d")
    )
    return (
        lat.groupBy("o_orderpriority", band.alias("latency_band"))
        .agg(
            F.count("*").alias("n_lines"),
            F.min("latency_days").cast("bigint").alias("min_days"),
            F.max("latency_days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority", "latency_band")
    )


@query(
    "doc_length_gini_by_lang",
    # Gini from the rank identity G = (2*sum(i*x_i) - (n+1)*sum(x)) /
    # (n*sum(x)) over ascending-sorted x — every term an exact integer
    # (deterministic (n_chars, doc_id) sort order), one final division.
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
             ) AS i
      FROM documents
    ), s AS (
      SELECT lang, count(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(i * n_chars) AS BIGINT) AS rank_weighted
      FROM ranked GROUP BY lang
    )
    SELECT lang, n_docs, total_chars,
           CAST(2 * rank_weighted - (n_docs + 1) * total_chars AS DOUBLE)
               / (n_docs * total_chars) AS gini
    FROM s ORDER BY lang
    """,
)
def doc_length_gini_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-inequality profile: the Gini coefficient of document
    lengths per language — 'is this slice a few huge docs plus dust,
    or evenly sized' — the corpus-balance diagnostic behind sampling
    and packing decisions. Rank identity keeps every aggregate an
    exact integer; the coefficient is one division.

    Int64 bound (r13 overflow audit): the largest term is
    ``rank_weighted <= n_docs * total_chars`` per lang — at sf1000
    that is ~2e7 docs x 6e9 chars = 1.2e17, and it crosses int64 only
    near sf8000 (both factors grow with sf, so the product grows as
    sf^2 from a 1.2e13 base at sf10). ``(n_docs+1)*total_chars`` in
    the final expression shares the same bound.

    Scale: computed from the per-(lang, n_chars) HISTOGRAM CDF (the
    event_value_deciles device): a tie block of ``cnt`` docs with the
    same length x occupies the contiguous ranks [cum-cnt+1, cum]
    regardless of the doc_id tie-break, and contributes
    x * (sum of those ranks) = x * (2*cum - cnt + 1) * cnt / 2 to
    rank_weighted — an exact integer (consecutive-rank sums are
    integral). So the fact table folds through one map-side-combined
    aggregate and the per-lang sort runs over DISTINCT lengths, not
    every document — the r13 form sorted the whole table inside
    |langs| window partitions (single-partition-per-lang at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("lang", "n_chars").agg(F.count("*").alias("cnt"))
    wo = Window.partitionBy("lang").orderBy("n_chars")
    cdf = hist.select(
        "lang",
        "n_chars",
        "cnt",
        F.sum("cnt")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    s = cdf.groupBy("lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("n_chars") * F.col("cnt"))
        .cast("bigint")
        .alias("total_chars"),
        F.sum(
            F.col("n_chars")
            * F.expr("(2 * cum - cnt + 1) * cnt div 2")
        )
        .cast("bigint")
        .alias("rank_weighted"),
    )
    return s.select(
        "lang",
        "n_docs",
        "total_chars",
        (
            (
                2 * F.col("rank_weighted")
                - (F.col("n_docs") + 1) * F.col("total_chars")
            ).cast("double")
            / (F.col("n_docs") * F.col("total_chars"))
        ).alias("gini"),
    ).orderBy("lang")


@query(
    "supplier_revenue_hhi_by_nation",
    # HHI = sum(share_i^2) = sum(d_i^2)/(sum(d_i))^2 over per-supplier
    # revenue in INTEGER DOLLARS (exact cents rollup floor-divided by
    # 100): cents^2 overflows BIGINT for a large supplier, dollars^2
    # does not; both engines compute the identical integers, and the
    # final division is one fixed-shape double op.
    oracle="""
    WITH srev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ), sd AS (
      SELECT s_nationkey, cents, cents // 100 AS dollars FROM srev
    )
    SELECT n.n_name AS nation,
           count(*) AS n_suppliers,
           CAST(SUM(cents) AS BIGINT) AS nation_cents,
           CAST(SUM(dollars * dollars) AS DOUBLE)
               / (CAST(SUM(dollars) AS DOUBLE) * CAST(SUM(dollars) AS DOUBLE))
               AS hhi
    FROM sd JOIN nation n ON sd.s_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
)
def supplier_revenue_hhi_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Market concentration: the Herfindahl-Hirschman index of
    supplier revenue shares within each nation (1/n = perfectly even,
    1.0 = monopoly) — the supply-risk diagnostic. Revenue in exact
    integer cents; HHI is one fixed-shape division.

    Scale: lineitem partial-aggregates to the O(suppliers) revenue
    rollup (supplier dim broadcast into the scan); the HHI rollup is
    O(nations). No sort, no window."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    srev = (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
        .withColumn("dollars", F.expr("cents div 100"))
    )
    return (
        srev.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("cents").cast("bigint").alias("nation_cents"),
            # dollars^2 accumulates in DECIMAL(38,0) (r13 overflow
            # audit): per-supplier revenue is sf-invariant (~3e7
            # dollars max — rows and suppliers scale together), but
            # the per-nation SUM of its square grows with supplier
            # count and crosses int64 near 7.5e3 suppliers/nation
            # (~sf19). DuckDB's SUM(BIGINT) is HUGEINT already; both
            # engines cross to double with one cast of the exact sum.
            (
                F.sum(F.col("dollars").cast("decimal(19,0)") * F.col("dollars"))
                .cast("double")
                / (
                    F.sum("dollars").cast("double")
                    * F.sum("dollars").cast("double")
                )
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


@query(
    "event_value_benford_profile",
    # first digit extracted from the INTEGER cents value via string
    # conversion (integer-to-decimal-string is exact and identical on
    # both engines — unlike double formatting); observed share is one
    # division of exact counts. Expected Benford mass needs log10, so
    # the comparison against it stays consumer-side.
    oracle="""
    WITH cents AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL AND value > 0
    ), digits AS (
      SELECT event_type,
             CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS first_digit
      FROM cents WHERE c > 0
    ), counts AS (
      SELECT event_type, first_digit, count(*) AS n
      FROM digits GROUP BY event_type, first_digit
    ), tot AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_type FROM counts
      GROUP BY event_type
    )
    SELECT c.event_type, c.first_digit, c.n, t.n_type,
           CAST(c.n AS DOUBLE) / t.n_type AS observed_share
    FROM counts c JOIN tot t ON c.event_type = t.event_type
    ORDER BY c.event_type, c.first_digit
    """,
)
def event_value_benford_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford first-digit profile of event values per type — the
    classic fabricated-data / instrumentation-bug screen (organic
    magnitudes lean on low first digits; uniform or spiked profiles
    flag synthetic or truncated values). Digits come from the exact
    integer cents rendering, so both engines bucket identically.

    Scale: one pass, partial-agg to O(types x 9) rows, a broadcast-
    sized totals join; no sort, no window."""
    ev = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("bigint")
    digits = (
        ev.where(F.col("value").isNotNull() & (F.col("value") > 0))
        .select("event_type", c.alias("c"))
        .where(F.col("c") > 0)
        .select(
            "event_type",
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("int")
            .alias("first_digit"),
        )
    )
    counts = digits.groupBy("event_type", "first_digit").agg(
        F.count("*").alias("n")
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_type")
    )
    return (
        counts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "first_digit",
            "n",
            "n_type",
            (F.col("n").cast("double") / F.col("n_type")).alias(
                "observed_share"
            ),
        )
        .orderBy("event_type", "first_digit")
    )


GAP_BLOCK = 1000


@query(
    "orders_key_gap_profile",
    oracle=f"""
    WITH blocks AS (
      SELECT o_orderkey // {GAP_BLOCK} AS block,
             count(*) AS n_present,
             CAST(min(o_orderkey) AS BIGINT) AS key_min,
             CAST(max(o_orderkey) AS BIGINT) AS key_max
      FROM orders GROUP BY block
    )
    SELECT CAST(block AS BIGINT) AS block, n_present, key_min, key_max,
           CAST(key_max - key_min + 1 - n_present AS BIGINT) AS n_missing
    FROM blocks WHERE key_max - key_min + 1 - n_present > 0
    ORDER BY block
    """,
)
def orders_key_gap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit: per {BLOCK}-key block of the order
    key space, how many ids are missing between the observed min and
    max — the CDC/ingest gap detector ('did we drop a batch') that
    needs no reference sequence, only the keys themselves.

    Scale: one partial agg keyed by integer-divided block — O(keyspace
    / {BLOCK}) output rows, no sort, no window, no join."""
    o = load_table(spark, sf_dir, "orders")
    blocks = o.groupBy(
        F.expr(f"o_orderkey div {GAP_BLOCK}").alias("block")
    ).agg(
        F.count("*").alias("n_present"),
        F.min("o_orderkey").cast("bigint").alias("key_min"),
        F.max("o_orderkey").cast("bigint").alias("key_max"),
    )
    missing = (
        F.col("key_max") - F.col("key_min") + 1 - F.col("n_present")
    ).cast("bigint")
    return (
        blocks.select(
            F.col("block").cast("bigint").alias("block"),
            "n_present",
            "key_min",
            "key_max",
            missing.alias("n_missing"),
        )
        .where(F.col("n_missing") > 0)
        .orderBy("block")
    )


orders_key_gap_profile.__doc__ = orders_key_gap_profile.__doc__.replace(
    "{BLOCK}", str(GAP_BLOCK)
)


@query(
    "user_inactivity_bands",
    oracle="""
    WITH last_seen AS (
      SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id
    ), horizon AS (
      SELECT max(ts) AS corpus_end FROM events
    ), aged AS (
      SELECT user_id,
             date_diff('day', CAST(last_ts AS DATE),
                       CAST(corpus_end AS DATE)) AS days_inactive
      FROM last_seen CROSS JOIN horizon
    )
    SELECT CASE WHEN days_inactive <= 1 THEN 'a_active_1d'
                WHEN days_inactive <= 7 THEN 'b_1w'
                WHEN days_inactive <= 14 THEN 'c_2w'
                ELSE 'd_gone' END AS inactivity_band,
           count(*) AS n_users,
           CAST(min(days_inactive) AS BIGINT) AS min_days,
           CAST(max(days_inactive) AS BIGINT) AS max_days
    FROM aged GROUP BY inactivity_band ORDER BY inactivity_band
    """,
)
def user_inactivity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-risk banding: days since each user's last event relative
    to the corpus horizon, bucketed (1d/1w/2w/gone) — the retention
    complement of ``user_retention_cohorts`` (who came back) and
    ``first_seen_users_batch`` (who arrived): who LEFT. Integer day
    arithmetic; the horizon is a 1-row broadcast attach.

    Scale: one user-keyed partial-agg max, a scalar cross join, an
    O(users)→O(4) rollup."""
    ev = load_table(spark, sf_dir, "events")
    last_seen = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    horizon = ev.agg(F.max("ts").alias("corpus_end"))
    aged = last_seen.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.to_date("corpus_end"), F.to_date("last_ts")).alias(
            "days_inactive"
        )
    )
    band = (
        F.when(F.col("days_inactive") <= 1, "a_active_1d")
        .when(F.col("days_inactive") <= 7, "b_1w")
        .when(F.col("days_inactive") <= 14, "c_2w")
        .otherwise("d_gone")
    )
    return (
        aged.groupBy(band.alias("inactivity_band"))
        .agg(
            F.count("*").alias("n_users"),
            F.min("days_inactive").cast("bigint").alias("min_days"),
            F.max("days_inactive").cast("bigint").alias("max_days"),
        )
        .orderBy("inactivity_band")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _mix_drift_oracle() -> str:
    conds = ", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{t}"
        for t in _EVENT_TYPES
    )
    terms = " + ".join(
        f"abs(CAST(n_{t} AS DOUBLE) / n_total"
        f" - CAST(p_{t} AS DOUBLE) / p_total)"
        for t in _EVENT_TYPES
    )
    lags = ", ".join(
        f"lag(n_{t}) OVER w AS p_{t}" for t in _EVENT_TYPES
    )
    return f"""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             count(*) AS n_total, {conds}
      FROM events GROUP BY day
    ), lagged AS (
      SELECT *, lag(n_total) OVER w AS p_total, {lags}
      FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT day, n_total,
           ({terms}) / 2 AS tv_drift,
           CAST(CASE WHEN ({terms}) / 2 >= 0.05 THEN 1 ELSE 0 END AS INT)
               AS is_shift
    FROM lagged WHERE p_total IS NOT NULL ORDER BY day
    """


@query("event_mix_daily_drift", oracle=_mix_drift_oracle())
def event_mix_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: total-variation distance between
    each day's event-type mix and the previous day's — the
    'did the traffic composition shift overnight' alarm (instrument
    changes, bot floods, outages all move it). The type set is the
    engine's closed event vocabulary, so the mix pivots to fixed
    columns and the TV sum is a FIXED-ORDER expression tree of
    single divisions — bit-stable cross-engine; the shift flag
    compares the identical double against the same literal.

    Scale: one day-keyed partial agg (conditional sums per type),
    then lag over the O(days) rollup. Nothing touches facts twice."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count("*").alias("n_total")] + [
        F.sum((F.col("event_type") == t).cast("int"))
        .cast("bigint")
        .alias(f"n_{t}")
        for t in _EVENT_TYPES
    ]
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(*aggs)
    w = Window.orderBy("day")
    lagged = daily.select(
        "*",
        F.lag("n_total").over(w).alias("p_total"),
        *[F.lag(f"n_{t}").over(w).alias(f"p_{t}") for t in _EVENT_TYPES],
    ).where(F.col("p_total").isNotNull())
    terms = None
    for t in _EVENT_TYPES:
        term = F.abs(
            F.col(f"n_{t}").cast("double") / F.col("n_total")
            - F.col(f"p_{t}").cast("double") / F.col("p_total")
        )
        terms = term if terms is None else terms + term
    tv = terms / 2
    return lagged.select(
        "day",
        "n_total",
        tv.alias("tv_drift"),
        (tv >= 0.05).cast("int").alias("is_shift"),
    ).orderBy("day")


@query(
    "daily_new_vs_returning",
    oracle="""
    WITH fd AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT CAST(day AS VARCHAR) AS day,
           count(*) AS n_active,
           CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
           CAST(SUM(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returning
    FROM act JOIN fd USING (user_id)
    GROUP BY day ORDER BY day
    """,
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each day's active users split into new
    (first-ever activity that day) and returning — the first chart on
    any growth dashboard, built on the same first-seen basis as
    ``first_seen_users_batch`` / ``user_retention_cohorts``.

    Scale: activity collapses to distinct (user, day) on the fact
    scan; the first-day table is a user-keyed partial-agg min; the
    join shares the user key shuffle; output is O(days)."""
    ev = load_table(spark, sf_dir, "events")
    fd = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    act = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        act.join(fd, "user_id")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count("*").alias("n_active"),
            F.sum((F.col("day") == F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_new"),
            F.sum((F.col("day") > F.col("first_day")).cast("int"))
            .cast("bigint")
            .alias("n_returning"),
        )
        .orderBy("day")
    )


@query(
    "customer_rolling_30d_spend",
    # RANGE frame over integer epoch-days: every order sees the exact
    # trailing-30-day spend for its customer — a TIME-range window
    # (value-based frame), not a row-count frame; both engines frame
    # on the identical integer day key.
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS epoch_day,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey, CAST(epoch_day AS BIGINT) AS epoch_day,
           CAST(SUM(cents) OVER (
             PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cents_30d,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY epoch_day
             RANGE BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_30d
    FROM o ORDER BY o_orderkey
    """,
)
def customer_rolling_30d_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-30-day spend per customer at each order, via a RANGE
    (time-value) window frame over integer epoch-days — the frame kind
    row-count windows cannot express when orders cluster unevenly in
    time (two orders the same day share one frame; a 40-day gap
    empties it). Exact integer cents.

    Scale: one customer-keyed window over the orders fact — per-key
    sorted streaming through the frame, state bounded by the 30-day
    span; the canonical rolling-feature shape for ML feature
    backfills."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
            "epoch_day"
        ),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_day")
        .rangeBetween(-29, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.col("epoch_day").cast("bigint").alias("epoch_day"),
        F.sum("cents").over(w).cast("bigint").alias("cents_30d"),
        F.count("*").over(w).cast("bigint").alias("n_orders_30d"),
    ).orderBy("o_orderkey")


@query(
    "event_minute_value_locf",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS m
      FROM bounds
    ), obs AS (
      SELECT date_trunc('minute', ts) AS m, max(value) AS max_value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT strftime(spine.m, '%Y-%m-%d %H:%M') AS event_minute,
           obs.max_value,
           last_value(obs.max_value IGNORE NULLS) OVER (
             ORDER BY spine.m ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW
           ) AS locf_value,
           CAST(CASE WHEN obs.max_value IS NULL THEN 1 ELSE 0 END AS INT)
               AS is_filled
    FROM spine LEFT JOIN obs ON spine.m = obs.m
    ORDER BY event_minute
    """,
)
def event_minute_value_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: the per-minute max event
    value, densified onto the minute spine with gaps forward-filled
    from the most recent observed minute — the imputation step between
    raw sparse telemetry and models/charts that need a value at every
    tick. The carried value is a raw observed double (max, not an
    average), so it is exact cross-engine.

    Scale: minute rollup + spine join as in ``event_minute_gapfill``;
    the LOCF window runs over the O(minutes) dense series (same
    single-partition-rollup precedent as ``minute_anomaly_ratio``) —
    at a multi-year horizon, cut by day with a carried seed."""
    ev = load_table(spark, sf_dir, "events")
    spine = _minute_spine(ev)
    obs = (
        ev.where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("m"))
        .agg(F.max("value").alias("max_value"))
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(obs, "m", "left")
        .select(
            F.date_format("m", "yyyy-MM-dd HH:mm").alias("event_minute"),
            "max_value",
            F.last("max_value", ignorenulls=True).over(w).alias("locf_value"),
            F.col("max_value").isNull().cast("int").alias("is_filled"),
        )
        .orderBy("event_minute")
    )


@query(
    "hourly_count_autocorr_24h",
    # Pearson r between the hourly count series and itself lagged 24h,
    # from INTEGER sums crossed to DOUBLE cast-first (the _corr_r
    # shape — sx*sy = N^2 would overflow int64 near 3e9 events): every
    # input to the float ops is an exact integer, each cast one
    # correctly-rounded op, and the expression tree is identical on
    # both engines, so r is bit-stable. r ~ 1 means strong daily
    # seasonality; ~0 means none.
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS c
      FROM events GROUP BY 1
    ), lagged AS (
      SELECT c AS x, lag(c, 24) OVER (ORDER BY h) AS y FROM hourly
    ), s AS (
      SELECT count(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM lagged WHERE y IS NOT NULL
    )
    SELECT n, sx, sy, sxy, sxx, syy,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               AS autocorr_24h
    FROM s
    """,
)
def hourly_count_autocorr_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-seasonality strength: the lag-24 autocorrelation of the
    hourly event-count series — the one-number answer to 'does this
    traffic have a daily rhythm' that gates whether hour-of-day
    features/baselines (``event_hour_dow_heatmap``,
    ``minute_anomaly_ratio``) are meaningful. All Pearson components
    are exact integer sums; r is a fixed-shape expression over them.

    Scale: hourly partial-agg rollup (O(hours)), one lag window over
    it, a 1-row reduce. The fact is scanned once."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("c")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        F.col("c").alias("x"), F.lag("c", 24).over(w).alias("y")
    ).where(F.col("y").isNotNull())
    s = lagged.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    # Pearson products in DOUBLE on both engines (r13 overflow audit,
    # the _corr_r shape): the component sums are exact int64 (sx = N
    # events; sxx ~ N^2/hours), but sx*sy = N^2 crosses int64 near
    # N ~ 3e9 events (~sf3000) — cast-first keeps every op one
    # correctly-rounded double in identical order cross-engine.
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    dx = F.sqrt(n_d * F.col("sxx").cast("double") - sx_d * sx_d)
    dy = F.sqrt(n_d * F.col("syy").cast("double") - sy_d * sy_d)
    return s.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        (num / (dx * dy)).alias("autocorr_24h"),
    )


@query(
    "user_type_diversity_bands",
    # Gini-Simpson diversity 1 - sum(p_i^2) per user, computed as
    # (N^2 - sum(n_i^2)) vs banded thresholds ENTIRELY in integer
    # cross-multiplication (20 * (N^2 - sum(n_i^2)) vs k * N^2), so
    # the banding never touches a float. Int64 bound (r13 overflow
    # audit): N here is PER-USER event count, which is sf-invariant
    # (the user population scales with the fact table; ~100 events/
    # user at every sf), so 20*N^2 ~ 2e5 at any scale.
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(n) AS BIGINT) AS total,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq
      FROM per_type GROUP BY user_id
    ), banded AS (
      SELECT CASE
               WHEN 20 * (total * total - sum_sq) < 4 * total * total
                 THEN 'a_low'
               WHEN 20 * (total * total - sum_sq) < 12 * total * total
                 THEN 'b_mid'
               ELSE 'c_high'
             END AS diversity_band
      FROM per_user
    )
    SELECT diversity_band, count(*) AS n_users
    FROM banded GROUP BY diversity_band ORDER BY diversity_band
    """,
)
def user_type_diversity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity segmentation: Gini-Simpson diversity
    (1 - sum p_i²) of each user's event-type mix, banded low
    (<0.2: monotone users), mid (<0.6), high — the entropy-style
    breadth profile without logarithms, so every comparison is an
    exact integer cross-multiplication and the result is
    hash-stable by construction.

    Scale: (user, type) partial agg -> O(users x types) rollup ->
    per-user integer reduce -> O(3) bands. No window, no join, no
    float anywhere."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    per_user = per_type.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
    )
    nn = F.col("total") * F.col("total")
    spread = (nn - F.col("sum_sq")) * 20
    band = (
        F.when(spread < 4 * nn, "a_low")
        .when(spread < 12 * nn, "b_mid")
        .otherwise("c_high")
    )
    return (
        per_user.select(band.alias("diversity_band"))
        .groupBy("diversity_band")
        .agg(F.count("*").alias("n_users"))
        .orderBy("diversity_band")
    )


@query(
    "session_bounce_rate_daily",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS sid
      FROM gaps
    ), per_session AS (
      SELECT user_id, sid,
             strftime(date_trunc('day', min(ts)), '%Y-%m-%d') AS day,
             count(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT day,
           count(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS bounce_rate
    FROM per_session GROUP BY day ORDER BY day
    """,
)
def session_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one
    event, sessions attributed to the day they started — the classic
    engagement-health metric, over the sessions of
    ``event_analytics._sessionized``.

    Scale: sessions collapse to one row each (min ts + count), then an
    O(days) rollup; the rate is one division of exact counts."""
    sess = _sessionized(load_table(spark, sf_dir, "events"))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        F.count("*").alias("n_events"),
    )
    bounce = (F.col("n_events") == 1).cast("int")
    return (
        per_session.groupBy("day")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum(bounce).cast("bigint").alias("n_bounces"),
            (F.sum(bounce).cast("double") / F.count("*")).alias(
                "bounce_rate"
            ),
        )
        .orderBy("day")
    )


# Exact-integer projections of lineitem's numeric columns: whole
# currency units for price, whole units for quantity, percent points
# for discount/tax. The identical ROUND/CAST expression runs on both
# engines; the squared/product SUMs accumulate in DECIMAL(38,0) (see
# _corr_sums), so no scale ceiling rides on the unit choice.
CORR_COLS = {
    "qty": "CAST(round(l_quantity) AS BIGINT)",
    "price": "CAST(round(l_extendedprice) AS BIGINT)",
    "disc": "CAST(round(l_discount * 100) AS BIGINT)",
    "tax": "CAST(round(l_tax * 100) AS BIGINT)",
}
CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(CORR_COLS)
    for b in list(CORR_COLS)[i + 1 :]
]


def _corr_sums() -> list[str]:
    """Aggregate expressions (portable SQL) for every Pearson component:
    per-column sum + sum-of-squares, per-pair sum-of-products. The
    squared/product sums accumulate in DECIMAL (r13 overflow audit):
    ss_price = SUM(price^2) ~ rows * 1.4e9 sits exactly at the int64
    cliff at sf1000 — a DECIMAL(19,0) cast on the first factor widens
    the whole SUM to DECIMAL(38,0) identically on both engines (the
    ge2 pattern); _corr_r then casts each exact sum to DOUBLE once.
    The plain sums stay int64 (s_price <= rows * 1.05e5 ~ 6e14 at
    sf1000)."""
    out = []
    for c, expr in CORR_COLS.items():
        out.append(f"CAST(SUM({expr}) AS BIGINT) AS s_{c}")
        out.append(
            f"SUM(CAST(({expr}) AS DECIMAL(19,0)) * ({expr})) AS ss_{c}"
        )
    for a, b in CORR_PAIRS:
        out.append(
            f"SUM(CAST(({CORR_COLS[a]}) AS DECIMAL(19,0))"
            f" * ({CORR_COLS[b]})) AS sp_{a}_{b}"
        )
    return out


def _corr_r(a: str, b: str) -> str:
    """Pearson r for a pair, as ONE fixed-shape double expression over
    the exact integer sums. n*sxy would overflow int64 here (sxy is
    ~1e15 at sf0.1), so every sum casts to DOUBLE first — each cast is
    a single correctly-rounded op and the tree is identical on both
    engines, so r hashes bit-for-bit."""
    n = "CAST(n AS DOUBLE)"
    sa, sb = f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
    saa, sbb = f"CAST(ss_{a} AS DOUBLE)", f"CAST(ss_{b} AS DOUBLE)"
    sab = f"CAST(sp_{a}_{b} AS DOUBLE)"
    den = (
        f"(sqrt({n} * {saa} - {sa} * {sa})"
        f" * sqrt({n} * {sbb} - {sb} * {sb}))"
    )
    # zero-variance guard: r is undefined when either column is
    # constant — Spark's ANSI mode raises on the 0 divisor where
    # DuckDB yields NULL, so both take the explicit NULL branch
    return (
        f"CASE WHEN {den} = 0 THEN NULL "
        f"ELSE ({n} * {sab} - {sa} * {sb}) / {den} END"
    )


@query(
    "lineitem_corr_matrix",
    oracle=f"""
    WITH s AS (
      SELECT count(*) AS n, {", ".join(_corr_sums())} FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
        f"{_corr_r(a, b)} AS pearson_r FROM s"
        for a, b in CORR_PAIRS
    )}
    ORDER BY col_a, col_b
    """,
)
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns (quantity, price, discount, tax) — the column-profiling
    step that catches derived/redundant columns and sanity-checks
    value generation before a model ever sees the table. All Pearson
    components are exact integer sums (the squared/product sums
    accumulate in DECIMAL(38,0) on both engines — see ``_corr_sums`` —
    so no component overflows before ~sf1e20); each r is one
    fixed-shape double expression over them.

    Scale: ONE map-side-combined pass computes all {n_sums} sums for
    all {n_pairs} pairs simultaneously (no per-pair scans); the arms
    are an O(1) unpivot of the single aggregate row."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.agg(
        F.count("*").alias("n"),
        *[F.expr(e) for e in _corr_sums()],
    )
    arms = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.expr(_corr_r(a, b)).alias("pearson_r"),
            )
            for a, b in CORR_PAIRS
        ]
    )
    return (
        s.select("n", F.explode(arms).alias("t"))
        .select("t.col_a", "t.col_b", "n", "t.pearson_r")
        .orderBy("col_a", "col_b")
    )


lineitem_corr_matrix.__doc__ = lineitem_corr_matrix.__doc__.replace(
    "{n_sums}", str(len(CORR_COLS) * 2 + len(CORR_PAIRS))
).replace("{n_pairs}", str(len(CORR_PAIRS)))


OLS_EPOCH = "1990-01-01"  # x-shift invariant for the slope; any date


@query(
    "orders_daily_ols_trend",
    # The OLS component SUMS are exact int64 (x = day index, y = daily
    # revenue cents; sxy ~ days * x * daily_cents stays far inside
    # int64 at any plausible scale). The slope NUMERATOR n*sxy - sx*sy
    # is computed in DOUBLE on both engines: n*sxy grows linearly with
    # corpus revenue and crossed int64 at sf0.3 (caught by the r12
    # scale sweep — ANSI overflow). The DENOMINATOR n*sxx - sx*sx is
    # day-span-bounded (independent of corpus size), so it stays exact
    # int64 and the degenerate-x zero test stays exact. Identical
    # double ops in identical order on both engines -> bit-identical.
    oracle=f"""
    WITH daily AS (
      SELECT o_orderpriority AS priority,
             datediff('day', DATE '{OLS_EPOCH}', CAST(o_orderdate AS DATE))
                 AS x,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS y
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT priority, count(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1
    )
    SELECT priority, n AS n_days, sx, sy, sxy, sxx,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / CAST(n * sxx - sx * sx AS DOUBLE) END
               AS slope_cents_per_day
    FROM s ORDER BY priority
    """,
)
def orders_daily_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue trend per order priority: ordinary-least-squares slope
    of daily revenue over the day index — the 'is this segment growing
    and how fast' number a forecast starts from, complementing the
    difference-based ``orders_mom_growth``. The slope is x-shift
    invariant, so the epoch needs no data-dependent bounds.

    Scale: one map-side-combined pass builds the O(days x priorities)
    daily rollup; the OLS sums reduce it to O(priorities) rows. The
    component SUMS are exact integers (day index, revenue cents); the
    slope's n*sxy - sx*sy numerator runs in double because it grows
    with corpus revenue (int64 overflow measured at sf0.3), while the
    day-span-bounded denominator stays exact int64 so constant-x
    degenerates to NULL exactly on both engines."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"datediff(o_orderdate, DATE '{OLS_EPOCH}')")
        .cast("bigint")
        .alias("x"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("y")
    )
    s = daily.groupBy("priority").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sy").cast("double")
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        num / den.cast("double")
    )
    return s.select(
        "priority",
        F.col("n").alias("n_days"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        slope.alias("slope_cents_per_day"),
    ).orderBy("priority")


# --- SCD Type-2 dimension build ---------------------------------------

SCD2_SUBSET = 11  # fixture sizing: every 11th customer; plan subset-free
SCD2_OPEN_END = "9999-12"  # sentinel for the open (current) interval


def _scd2_sql(dialect: str) -> str:
    """Shared SCD2 build, dialect-parameterized (month formatting and
    integer division)."""
    if dialect == "spark":
        month, idiv = "date_format(o_orderdate, 'yyyy-MM')", "div"
    else:
        month, idiv = "strftime(o_orderdate, '%Y-%m')", "//"
    return f"""
    WITH monthly AS (
      SELECT o_custkey, {month} AS month,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders WHERE o_custkey % {SCD2_SUBSET} = 0
      GROUP BY o_custkey, {month}),
    tiered AS (
      SELECT o_custkey, month,
             CAST(LEAST({N_TIERS - 1}, cents {idiv} {TIER_WIDTH_CENTS})
               AS INT) AS tier
      FROM monthly),
    changes AS (
      SELECT o_custkey, month, tier,
             lag(tier) OVER (PARTITION BY o_custkey ORDER BY month)
               AS prev_tier
      FROM tiered),
    starts AS (
      SELECT o_custkey, month AS eff_from, tier FROM changes
      WHERE prev_tier IS NULL OR tier != prev_tier),
    spans AS (
      SELECT o_custkey, tier, eff_from,
             lead(eff_from) OVER (
               PARTITION BY o_custkey ORDER BY eff_from) AS eff_to_raw
      FROM starts)
    SELECT o_custkey, tier, eff_from,
           coalesce(eff_to_raw, '{SCD2_OPEN_END}') AS eff_to,
           CASE WHEN eff_to_raw IS NULL THEN 1 ELSE 0 END AS is_current
    FROM spans ORDER BY o_custkey, eff_from
    """


@query("scd2_customer_tier_history", oracle=_scd2_sql("duck"))
def scd2_customer_tier_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: compress each
    customer's monthly spend-tier series into validity intervals
    [eff_from, eff_to) — a new row only where the tier CHANGES, the
    open interval flagged ``is_current``. This is the dimension-table
    complement of ``customer_spend_tier_transitions`` (which counts
    the moves; this one materializes the history a point-in-time join
    needs). Gap months collapse into the standing interval, matching
    the transitions query's documented active-month semantics.

    Scale: one partial-agg rollup keyed (customer, month), then two
    windows over the SAME customer partition — one shuffle total;
    change-point compression shrinks output to O(#changes), the whole
    point of SCD2 at warehouse scale.

    Reference analog: the warehouse the reference lands events into
    keeps only current rows (``kafka/clickhouse_connector_configuration
    .json``); SCD2 is the standard upgrade when history must be
    queryable as-of any date."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_scd2_sql("spark"))


def _scd2_pit_sql(dialect: str) -> str:
    month = (
        "date_format(o_orderdate, 'yyyy-MM')"
        if dialect == "spark"
        else "strftime(o_orderdate, '%Y-%m')"
    )
    return f"""
    WITH hist AS ({_scd2_sql(dialect)}),
    om AS (
      SELECT o_orderkey, o_custkey, {month} AS month
      FROM orders WHERE o_custkey % {SCD2_SUBSET} = 0)
    SELECT om.o_orderkey, om.o_custkey, om.month, h.tier
    FROM om JOIN hist h ON om.o_custkey = h.o_custkey
      AND om.month >= h.eff_from AND om.month < h.eff_to
    ORDER BY om.o_orderkey
    """


@query("scd2_point_in_time_join", oracle=_scd2_pit_sql("duck"))
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumption side of ``scd2_customer_tier_history``: join
    each order to the tier that was in force in its month — the
    point-in-time (as-of) lookup SCD2 exists to serve. The lexical
    ``yyyy-MM`` encoding makes the interval predicate a plain string
    range; the open interval's ``9999-12`` sentinel needs no special
    case. Every order month lands in EXACTLY one interval (intervals
    tile from the first active month — ``tests/test_r9_close_ops.py``
    asserts the row-count identity).

    Scale: equi-join on the customer key carries the range predicate
    as a join filter — no band-join fanout; the dimension side is the
    O(#changes)-row SCD2 output, broadcastable at any realistic
    change rate."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_scd2_pit_sql("spark"))


_RANK_BANDS_SQL = """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, cents,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile,
             percent_rank() OVER (ORDER BY cents, o_custkey) AS pr,
             cume_dist() OVER (ORDER BY cents, o_custkey) AS cd
      FROM spend)
    SELECT decile, count(*) AS n_customers,
           min(cents) AS cents_min, max(cents) AS cents_max,
           min(pr) AS pr_min, max(cd) AS cd_max
    FROM ranked GROUP BY decile ORDER BY decile
"""


@query("customer_spend_rank_bands", oracle=_RANK_BANDS_SQL)
def customer_spend_rank_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank surface in one pass: ``ntile`` deciles,
    ``percent_rank`` and ``cume_dist`` over lifetime spend, rolled up
    per decile. The rank doubles are exact rationals ((rank-1)/(n-1),
    rank/n) over a DETERMINISTIC total order (cents, custkey) — bit-
    identical across engines, per the no-float-aggregation rule.

    Scale: one customer-keyed partial agg, then a single global-order
    window. A global ORDER BY window is the one shape that genuinely
    serializes; at 100 TB you'd band it by range partitioning first
    (the ``key_skew_profile`` pattern) — here the windowed relation is
    already O(customers), reduced before the sort."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_RANK_BANDS_SQL)


EWMA_SPAN = 16  # ROWS window; power-of-two weights keep BIGINT exact


def _ewma_sql(dialect: str) -> str:
    day = (
        "date_format(o_orderdate, 'yyyy-MM-dd')"
        if dialect == "spark"
        else "strftime(o_orderdate, '%Y-%m-%d')"
    )
    num = " + ".join(
        f"coalesce(lag(cnt,{k}) OVER w, 0) * {2 ** (EWMA_SPAN - 1 - k)}"
        for k in range(EWMA_SPAN)
    )
    den = " + ".join(
        f"(CASE WHEN lag(cnt,{k}) OVER w IS NOT NULL"
        f" THEN {2 ** (EWMA_SPAN - 1 - k)} ELSE 0 END)"
        for k in range(EWMA_SPAN)
    )
    return f"""
    WITH daily AS (
      SELECT {day} AS day, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY {day})
    SELECT day, cnt,
           CAST({num} AS BIGINT) AS ewma_num,
           CAST({den} AS BIGINT) AS ewma_den,
           CAST({num} AS DOUBLE) / ({den}) AS ewma
    FROM daily
    WINDOW w AS (ORDER BY day)
    ORDER BY day
    """


@query("orders_daily_ewma16", oracle=_ewma_sql("duck"))
def orders_daily_ewma16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily order volume,
    EXACT: {SPAN} explicit lag terms with power-of-two weights
    (half-life = 1 step) summed in BIGINT, the ratio emitted alongside
    its integer numerator/denominator so the hash oracle checks the
    arithmetic, not a float accumulation order. Short-history days
    renormalize over the weights actually present. The trend
    complement of ``orders_daily_ols_trend`` (global fit) and
    ``events_cusum_drift`` (changepoint): a local smoother.

    Scale: one date-keyed partial agg, then a single ordered window
    over O(#days) rows — the window never sees facts. The full weight sum is
    2^16-1, so the numerator stays < 2^63 up to ~1.4e14 orders/day."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_ewma_sql("spark"))


orders_daily_ewma16.__doc__ = orders_daily_ewma16.__doc__.replace(
    "{SPAN}", str(EWMA_SPAN)
)


# --- bounded-queue capacity simulation --------------------------------

QSIM_QMAX_FACTOR = 5  # buffer bound as a multiple of daily capacity

_QSIM_ORACLE = f"""
    WITH RECURSIVE arr AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS a
      FROM orders GROUP BY 1
    ), bounds AS (
      SELECT min(day) AS dmin, max(day) AS dmax FROM arr
    ), spine AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d.day) - 1 AS idx, d.day,
             COALESCE(a.a, 0) AS a
      FROM (
        SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))::DATE
                 AS day
        FROM bounds
      ) d LEFT JOIN arr a ON d.day = a.day
    ), params AS (
      SELECT CAST(SUM(a) // count(*) + 1 AS BIGINT) AS cap FROM spine
    ), rec(idx, day, a, q, served, dropped) AS (
      SELECT CAST(-1 AS BIGINT), CAST(NULL AS DATE), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT s.idx, s.day, s.a,
             (rec.q + s.a - LEAST(rec.q + s.a, p.cap))
               - GREATEST(0, (rec.q + s.a - LEAST(rec.q + s.a, p.cap))
                             - {QSIM_QMAX_FACTOR} * p.cap),
             LEAST(rec.q + s.a, p.cap),
             GREATEST(0, (rec.q + s.a - LEAST(rec.q + s.a, p.cap))
                         - {QSIM_QMAX_FACTOR} * p.cap)
      FROM rec JOIN spine s ON s.idx = rec.idx + 1 CROSS JOIN params p
    )
    SELECT CAST(day AS VARCHAR) AS day, CAST(a AS BIGINT) AS arrivals,
           CAST(served AS BIGINT) AS served,
           CAST(dropped AS BIGINT) AS dropped,
           CAST(q AS BIGINT) AS queue_end
    FROM rec WHERE idx >= 0 ORDER BY day
    """


@query("orders_capacity_queue_sim", oracle=_QSIM_ORACLE)
def orders_capacity_queue_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-buffer fulfillment simulation over daily order arrivals:
    a fixed daily service capacity (total/days + 1, data-derived
    identically on both engines) drains a queue clamped at
    {QSIM_QMAX_FACTOR}x capacity — per day the served count, the
    overflow DROPPED at the buffer bound, and the end-of-day queue.
    The capacity-planning what-if behind backpressure sizing.

    The recurrence q_t = min(QMAX, max(0, q_t-1 + a_t - C)) is the
    deliberate non-associative case: the ONE-sided clamp decomposes
    into prefix sums (the ``events_cusum_drift`` running-sum-minus-
    running-min identity), but the TWO-sided clamp provably does not —
    so this is the pattern for genuine sequential state: reduce facts
    to the CALENDAR-bounded daily rollup first (the only fact shuffle),
    then run the loop in ONE Arrow batch (``applyInPandas``, a
    single O(|days|) group; no row-at-a-time pickling). The oracle is
    the same recurrence as a DuckDB recursive CTE.

    Scale: facts never reach Python — the Arrow batch holds one row
    per calendar day (~2.4k at any SF); everything upstream is a
    map-side-combined count and a broadcast spine join."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day")
    )
    # session_cached: the bounds branch and the spine join both read
    # the rollup — without it orders scans twice; O(|days|) rows
    arr = session_cached(
        spark,
        frame_memo_tag(sf_dir, "qsim_arr"),
        lambda: o.groupBy("day")
        .agg(F.count("*").cast("bigint").alias("a"))
        .coalesce(1),
    )
    bounds = arr.agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
    spine = bounds.select(
        F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    series = spine.join(arr, "day", "left").select(
        "day", F.coalesce("a", F.lit(0)).cast("bigint").alias("a")
    )

    def _simulate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        n_days = len(pdf)
        cap = int(pdf["a"].sum()) // n_days + 1
        qmax = QSIM_QMAX_FACTOR * cap
        q = 0
        out = []
        for day, a in zip(pdf["day"], pdf["a"]):
            avail = q + int(a)
            served = min(avail, cap)
            rem = avail - served
            dropped = max(0, rem - qmax)
            q = rem - dropped
            out.append((str(day), int(a), served, dropped, q))
        return pd.DataFrame(
            out, columns=["day", "arrivals", "served", "dropped", "queue_end"]
        )

    schema = (
        "day string, arrivals long, served long, dropped long, queue_end long"
    )
    return (
        series.groupBy(F.lit(1).alias("g"))
        .applyInPandas(lambda _, pdf: _simulate(pdf), schema)
        .orderBy("day")
    )


orders_capacity_queue_sim.__doc__ = (
    orders_capacity_queue_sim.__doc__ or ""
).replace("{QSIM_QMAX_FACTOR}", str(QSIM_QMAX_FACTOR))


# --- linear-interpolation densification ---------------------------------

# the interpolation arithmetic, shared VERBATIM by both engines: exact
# integer minute distances cast to double once, then a fixed-shape
# mul/div/add chain over raw observed doubles
_LERP_CASE = (
    "CASE WHEN max_value IS NOT NULL THEN max_value"
    " WHEN pv IS NULL OR nv IS NULL THEN NULL"
    " ELSE pv + (nv - pv) *"
    " (CAST(em - pm AS DOUBLE) / CAST(nm - pm AS DOUBLE)) END"
)

_LERP_ORACLE = f"""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)) AS m
      FROM bounds
    ), obs AS (
      SELECT date_trunc('minute', ts) AS m, max(value) AS max_value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), j AS (
      SELECT spine.m AS m, epoch(spine.m) // 60 AS em, obs.max_value
      FROM spine LEFT JOIN obs ON spine.m = obs.m
    ), f AS (
      SELECT m, em, max_value,
             last_value(max_value IGNORE NULLS) OVER (
               ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS pv,
             last_value(CASE WHEN max_value IS NOT NULL THEN em END
                        IGNORE NULLS) OVER (
               ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS pm,
             first_value(max_value IGNORE NULLS) OVER (
               ORDER BY m ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS nv,
             first_value(CASE WHEN max_value IS NOT NULL THEN em END
                         IGNORE NULLS) OVER (
               ORDER BY m ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS nm
      FROM j
    )
    SELECT strftime(m, '%Y-%m-%d %H:%M') AS event_minute, max_value,
           {_LERP_CASE} AS lerp_value,
           CAST(CASE WHEN max_value IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_filled
    FROM f ORDER BY event_minute
    """


@query("event_minute_value_lerp", oracle=_LERP_ORACLE)
def event_minute_value_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation densification: the per-minute max event
    value on the dense minute spine, with interior gaps filled by the
    straight line between the nearest observed minutes on either side
    — the resampling mode between step-fill (``event_minute_value_
    locf``) and zero-fill (``event_minute_gapfill``), and the one
    charting/feature layers usually mean by "resample". Leading and
    trailing gaps stay NULL (interpolation needs both endpoints;
    carrying one side is LOCF's contract, not this one's).

    Exactness: gap positions are exact integer minute indexes; the
    interpolation is one fixed-shape double expression over those
    integers and the raw observed doubles, shared verbatim with the
    oracle — no accumulation, so bit-stable.

    Scale: minute rollup + spine join exactly as the gapfill/LOCF
    twins; the four carry windows run over the O(minutes) dense
    series (single-partition-rollup precedent of
    ``minute_anomaly_ratio``) — at a multi-year horizon, cut by day
    with carried seeds."""
    ev = load_table(spark, sf_dir, "events")
    spine = _minute_spine(ev)
    obs = (
        ev.where(F.col("value").isNotNull())
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("m"))
        .agg(F.max("value").alias("max_value"))
    )
    wp = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    # the "next observation" side runs as a REVERSED running frame:
    # last(ignorenulls) over a DESC UnboundedPreceding..current frame
    # is the first non-null at-or-after the row in forward order, and
    # running frames evaluate incrementally — Spark's
    # first(ignorenulls) over current..UnboundedFollowing rescans the
    # tail per row, O(n^2) (measured 35 s vs 0.6 s on the 43k-minute
    # spine at sf0.1)
    wn = Window.orderBy(F.col("m").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    em_obs = F.when(
        F.col("max_value").isNotNull(), F.col("em")
    )
    f = (
        spine.join(obs, "m", "left")
        .withColumn("em", F.expr("CAST(m AS BIGINT) div 60"))
        .select(
            "m",
            "em",
            "max_value",
            F.last("max_value", ignorenulls=True).over(wp).alias("pv"),
            F.last(em_obs, ignorenulls=True).over(wp).alias("pm"),
            F.last("max_value", ignorenulls=True).over(wn).alias("nv"),
            F.last(em_obs, ignorenulls=True).over(wn).alias("nm"),
        )
    )
    return (
        f.select(
            F.date_format("m", "yyyy-MM-dd HH:mm").alias("event_minute"),
            "max_value",
            F.expr(_LERP_CASE).alias("lerp_value"),
            F.col("max_value").isNull().cast("int").alias("is_filled"),
        )
        .orderBy("event_minute")
    )


# --- lagged cross-correlation between event-type series -----------------

XCORR_X = "click"  # leading series
XCORR_Y = "purchase"  # lagged series
XCORR_LAGS = 10  # minutes, both directions

_XCORR_ORACLE = f"""
    WITH bounds AS (
      SELECT date_trunc('minute', min(ts)) AS tmin,
             date_trunc('minute', max(ts)) AS tmax
      FROM events
    ), spine AS (
      SELECT epoch(unnest(generate_series(tmin, tmax, INTERVAL 1 MINUTE)))
               // 60 AS em
      FROM bounds
    ), cx AS (
      SELECT epoch(date_trunc('minute', ts)) // 60 AS em,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = '{XCORR_X}' GROUP BY 1
    ), cy AS (
      SELECT epoch(date_trunc('minute', ts)) // 60 AS em,
             CAST(count(*) AS BIGINT) AS c
      FROM events WHERE event_type = '{XCORR_Y}' GROUP BY 1
    ), s AS (
      SELECT spine.em AS em, COALESCE(cx.c, 0) AS x, COALESCE(cy.c, 0) AS y
      FROM spine LEFT JOIN cx ON spine.em = cx.em
                 LEFT JOIN cy ON spine.em = cy.em
    ), p AS (
      SELECT l.lag AS lag, a.x AS x, b.y AS y2
      FROM (SELECT unnest(range(-{XCORR_LAGS}, {XCORR_LAGS + 1})) AS lag) l
      CROSS JOIN s a JOIN s b ON b.em = a.em + l.lag
    ), g AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s_x,
             CAST(SUM(y2) AS BIGINT) AS s_y,
             CAST(SUM(x * x) AS BIGINT) AS ss_x,
             CAST(SUM(y2 * y2) AS BIGINT) AS ss_y,
             CAST(SUM(x * y2) AS BIGINT) AS sp_x_y
      FROM p GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag_minutes, n AS n_pairs,
           {_corr_r("x", "y")} AS pearson_r
    FROM g ORDER BY lag_minutes
    """


@query("event_minute_crosscorr_lags", oracle=_XCORR_ORACLE)
def event_minute_crosscorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the '{X}' and '{Y}' per-minute
    count series over the dense zero-filled spine: Pearson r of
    (x_t, y_t+L) for every lag L in [-{L}, {L}] minutes — the
    lead/lag screen that turns "do purchases follow clicks, and by
    how many minutes?" into one curve whose argmax is the response
    delay. Lag 0 reproduces the plain correlation; the +/-L asymmetry
    is the directionality signal. Pearson r reuses the exact-sums
    contract of ``lineitem_corr_matrix``: per-lag sums are exact
    integers and r is one fixed-shape double expression (``_corr_r``,
    cast-first double). Int64 bound (r13 overflow audit): the events
    span is a fixed 30 days (~43k minutes), so per-minute counts grow
    linearly with sf and ss_x ~ minutes * (N/minutes)^2 crosses int64
    only near N ~ 6e11 events (~sf600,000).

    Scale: each series collapses to a minute histogram on the fact
    scan (map-side combined); the dense spine join and the
    {LAGS}-way lag explode run over O(minutes x lags)
    calendar-bounded rows — the self-join keys on the shifted minute
    index against the session-cached spine frame, never on raw
    events."""
    ev = load_table(spark, sf_dir, "events")
    spine = _minute_spine(ev).select(F.expr("CAST(m AS BIGINT) div 60").alias("em"))
    em_of = F.expr("CAST(date_trunc('minute', ts) AS BIGINT) div 60")

    def series(etype: str, out: str):
        return (
            ev.where(F.col("event_type") == etype)
            .groupBy(em_of.alias("em"))
            .agg(F.count("*").cast("bigint").alias(out))
        )

    s = session_cached(
        spark,
        frame_memo_tag(sf_dir, f"xcorr_spine_{XCORR_X}_{XCORR_Y}"),
        lambda: spine.join(series(XCORR_X, "cx"), "em", "left")
        .join(series(XCORR_Y, "cy"), "em", "left")
        .select(
            "em",
            F.coalesce("cx", F.lit(0)).cast("bigint").alias("x"),
            F.coalesce("cy", F.lit(0)).cast("bigint").alias("y"),
        )
        .coalesce(1),
    )
    a = s.select(
        "x",
        F.explode(
            F.sequence(F.lit(-XCORR_LAGS), F.lit(XCORR_LAGS))
        ).alias("lag"),
        F.col("em").alias("a_em"),
    ).withColumn("t_em", F.col("a_em") + F.col("lag"))
    b = s.select(F.col("em").alias("b_em"), F.col("y").alias("y2"))
    g = (
        a.join(b, F.col("t_em") == F.col("b_em"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s_x"),
            F.sum("y2").cast("bigint").alias("s_y"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss_x"),
            F.sum(F.col("y2") * F.col("y2")).cast("bigint").alias("ss_y"),
            F.sum(F.col("x") * F.col("y2")).cast("bigint").alias("sp_x_y"),
        )
    )
    return (
        g.select(
            F.col("lag").cast("bigint").alias("lag_minutes"),
            F.col("n").alias("n_pairs"),
            F.expr(_corr_r("x", "y")).alias("pearson_r"),
        )
        .orderBy("lag_minutes")
    )


event_minute_crosscorr_lags.__doc__ = (
    (event_minute_crosscorr_lags.__doc__ or "")
    .replace("{X}", XCORR_X)
    .replace("{Y}", XCORR_Y)
    .replace("{LAGS}", str(2 * XCORR_LAGS + 1))
    .replace("{L}", str(XCORR_LAGS))
)


# --- k-anonymity audit ----------------------------------------------------

KANON_K = 5  # the re-identification threshold audited against

_KANON_ORACLE = f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
             CAST(count(*) AS BIGINT) AS k
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT k AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(k * count(*) AS BIGINT) AS n_customers,
           CAST(CASE WHEN k < {KANON_K} THEN 1 ELSE 0 END AS INT)
             AS below_k
    FROM classes GROUP BY k ORDER BY class_size
    """


@query("customer_kanonymity_profile", oracle=_KANON_ORACLE)
def customer_kanonymity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-
    identifier (nation, market segment, account-balance band): the
    histogram of equivalence-class sizes, flagging classes below
    k={K} — the re-identification risk report a governance layer runs
    before a dataset leaves the warehouse (a customer in a class of
    size 1 is unique on the QI and linkable to external data; Sweeney
    2002). Suppression/generalization planning starts from exactly
    this histogram.

    Scale: two map-side-combined integer aggregations — QI rollup
    (bounded by the QI domain, ~25x5x11 cells), then the class-size
    histogram over it; no joins, no windows, nothing row-bounded."""
    c = load_table(spark, sf_dir, "customer")
    classes = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
            "acctbal_band"
        ),
    ).agg(F.count("*").cast("bigint").alias("k"))
    return (
        classes.groupBy("k")
        .agg(F.count("*").cast("bigint").alias("n_classes"))
        .select(
            F.col("k").alias("class_size"),
            "n_classes",
            (F.col("k") * F.col("n_classes")).cast("bigint").alias(
                "n_customers"
            ),
            (F.col("k") < KANON_K).cast("int").alias("below_k"),
        )
        .orderBy("class_size")
    )


customer_kanonymity_profile.__doc__ = (
    customer_kanonymity_profile.__doc__ or ""
).replace("{K}", str(KANON_K))


# --- l-diversity audit ----------------------------------------------------

LDIV_L = 3  # minimum distinct sensitive values per QI class

_LDIV_ORACLE = f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS class_size,
             CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(SUM(class_size) AS BIGINT) AS n_customers,
           CAST(CASE WHEN l < {LDIV_L} THEN 1 ELSE 0 END AS INT)
             AS below_l
    FROM classes GROUP BY l ORDER BY l
    """


@query("customer_ldiversity_profile", oracle=_LDIV_ORACLE)
def customer_ldiversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007), the companion to the
    k-anonymity histogram: under the quasi-identifier (nation, market
    segment), how many DISTINCT values of the sensitive attribute
    (account-balance band) each equivalence class contains — a class
    can be k-anonymous yet still leak the sensitive value when every
    member shares it (the homogeneity attack k-anonymity misses).
    Classes with l < {LDIV_L} need suppression or band coarsening.

    Scale: one two-level map-side-combined aggregate — the QI x band
    rollup is bounded by the attribute domains (~25 x 5 x 11 cells),
    the l histogram by distinct l values; no joins, no windows."""
    c = load_table(spark, sf_dir, "customer")
    classes = (
        c.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("class_size"),
            F.count_distinct("band").cast("bigint").alias("l"),
        )
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count("*").cast("bigint").alias("n_classes"),
            F.sum("class_size").cast("bigint").alias("n_customers"),
        )
        .select(
            "l",
            "n_classes",
            "n_customers",
            (F.col("l") < LDIV_L).cast("int").alias("below_l"),
        )
        .orderBy("l")
    )


customer_ldiversity_profile.__doc__ = (
    customer_ldiversity_profile.__doc__ or ""
).replace("{LDIV_L}", str(LDIV_L))


# --- t-closeness audit -----------------------------------------------------

TCLOSE_T = 0.2  # max allowed EMD between class and global distribution

# Int64 bound (r13 overflow audit): the EMD accumulator cum_diff sums
# cnt_c*total_g - cnt_g*total_c terms, each bounded by total_c*total_g
# ~ (N/classes)*N; with ~20 bands the |cum_diff| sum stays under
# m*N^2/classes, which crosses int64 only near N ~ 1.7e9 customers
# (~sf11,000 at 1.5e5 customers/sf). DuckDB widens SUM(BIGINT) to
# HUGEINT anyway; the explicit CAST pins the Spark-visible type.
_TCLOSE_ORACLE = f"""
    WITH banded AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ), gl AS (
      SELECT band, CAST(count(*) AS BIGINT) AS cnt_g FROM banded GROUP BY band
    ), gtot AS (
      SELECT CAST(COALESCE(SUM(cnt_g), 0) AS BIGINT) AS total_g,
             CAST(count(*) AS BIGINT) AS m
      FROM gl
    ), cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS total_c
      FROM banded GROUP BY 1, 2
    ), cell AS (
      SELECT c_nationkey, c_mktsegment, band, CAST(count(*) AS BIGINT) AS cnt_c
      FROM banded GROUP BY 1, 2, 3
    ), spine AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.total_c, gl.band, gl.cnt_g,
             COALESCE(cell.cnt_c, 0) AS cnt_c
      FROM cls CROSS JOIN gl
      LEFT JOIN cell ON cls.c_nationkey = cell.c_nationkey
                    AND cls.c_mktsegment = cell.c_mktsegment
                    AND gl.band = cell.band
    ), cum AS (
      SELECT c_nationkey, c_mktsegment, total_c, band,
             SUM(cnt_c * (SELECT total_g FROM gtot)
                 - cnt_g * total_c)
               OVER (PARTITION BY c_nationkey, c_mktsegment
                     ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_diff
      FROM spine
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(total_c AS BIGINT) AS class_size,
           CAST((SELECT m FROM gtot) AS BIGINT) AS n_bands,
           CASE WHEN (SELECT m FROM gtot) <= 1 THEN NULL
                ELSE CAST(SUM(ABS(cum_diff)) AS BIGINT)
                  / (CAST(total_c AS DOUBLE) * (SELECT total_g FROM gtot)
                     * ((SELECT m FROM gtot) - 1))
           END AS emd,
           CAST(CASE WHEN (SELECT m FROM gtot) > 1 AND
                  CAST(SUM(ABS(cum_diff)) AS BIGINT)
                  / (CAST(total_c AS DOUBLE) * (SELECT total_g FROM gtot)
                     * ((SELECT m FROM gtot) - 1)) > {TCLOSE_T}
                THEN 1 ELSE 0 END AS INT) AS above_t
    FROM cum
    GROUP BY c_nationkey, c_mktsegment, total_c
    ORDER BY c_nationkey, c_mktsegment
    """


@query("customer_tcloseness_profile", oracle=_TCLOSE_ORACLE)
def customer_tcloseness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the privacy trio
    with k-anonymity and l-diversity: per (nation, market segment)
    equivalence class, the ordered earth-mover distance between the
    class's account-balance-band distribution and the global one —
    l-diverse classes still leak when their sensitive distribution is
    SKEWED relative to the population (the skewness attack). EMD over
    an ordered attribute is the mean |cumulative difference|, computed
    here as exact cross-multiplied BIGINT cumulative sums over the
    common denominator total_c * total_g, with ONE double division at
    the end — engine-portable with no float accumulation.

    Scale: every frame is domain-bounded (classes x bands ~ 125 x 11)
    after two map-side-combined aggregates over the scan; the spine
    cross join and the cumulative window run on those rollups, never
    on customer rows."""
    c = load_table(spark, sf_dir, "customer")
    banded = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    gl = banded.groupBy("band").agg(F.count("*").cast("bigint").alias("cnt_g"))
    gtot = gl.agg(
        F.coalesce(F.sum("cnt_g"), F.lit(0)).cast("bigint").alias("total_g"),
        F.count("*").cast("bigint").alias("m"),
    )
    cls = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("total_c")
    )
    cell = banded.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count("*").cast("bigint").alias("cnt_c")
    )
    spine = (
        cls.crossJoin(F.broadcast(gl))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "total_c",
            "band",
            "total_g",
            "m",
            F.coalesce(F.col("cnt_c"), F.lit(0)).alias("cnt_c"),
            "cnt_g",
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = spine.withColumn(
        "cum_diff",
        F.sum(
            F.col("cnt_c") * F.col("total_g") - F.col("cnt_g") * F.col("total_c")
        ).over(w),
    )
    # m = 1 (single global band) would make the denominator 0 — and
    # 0/0 is NULL in Spark but NaN in DuckDB, so guard it explicitly
    emd_raw = F.sum(F.abs(F.col("cum_diff"))).cast("bigint") / (
        F.first("total_c").cast("double")
        * F.first("total_g")
        * (F.first("m") - 1)
    )
    emd = F.when(F.first("m") <= 1, F.lit(None).cast("double")).otherwise(
        emd_raw
    )
    return (
        cum.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.first("total_c").cast("bigint").alias("class_size"),
            F.first("m").cast("bigint").alias("n_bands"),
            emd.alias("emd"),
            F.when((F.first("m") > 1) & (emd_raw > TCLOSE_T), 1)
            .otherwise(0)
            .cast("int")
            .alias("above_t"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# --- functional-dependency audit -----------------------------------------

# candidate determinant -> dependent pairs audited over orders; only
# integer/string columns so the VARCHAR casts render identically in
# both engines
FD_CANDIDATES = (
    ("o_orderkey", "o_custkey"),  # key: must hold
    ("o_orderkey", "o_orderstatus"),  # key: must hold
    ("o_custkey", "o_orderpriority"),  # behavioral: expected violated
    ("o_orderstatus", "o_orderpriority"),  # categorical: expected violated
)


def _fd_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT '{d}->{p}' AS cand, CAST({d} AS VARCHAR) AS det,"
        f" CAST({p} AS VARCHAR) AS dep FROM orders"
        for d, p in FD_CANDIDATES
    )
    return f"""
    WITH pairs AS ({selects}),
    grp AS (
      SELECT cand, det, CAST(count(DISTINCT dep) AS BIGINT) AS ndep,
             CAST(count(*) AS BIGINT) AS nrows
      FROM pairs GROUP BY 1, 2
    )
    SELECT cand AS candidate,
           CAST(count(*) AS BIGINT) AS n_determinants,
           CAST(SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(CASE WHEN ndep > 1 THEN nrows ELSE 0 END) AS BIGINT)
             AS n_rows_affected,
           CAST(CASE WHEN SUM(CASE WHEN ndep > 1 THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS INT) AS holds
    FROM grp GROUP BY 1 ORDER BY 1
    """


@query("orders_fd_audit", oracle=_fd_oracle())
def orders_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (the schema-discovery primitive of
    profiling tools like Metanome): for each candidate determinant ->
    dependent pair, how many determinant values map to MORE than one
    dependent value, and how many rows sit inside those violations. A
    holding FD is a denormalization opportunity and an integrity
    invariant to enforce; a violated "key" is a data bug. The audited
    set spans the expected spectrum: two key dependencies (must hold)
    and two behavioral/categorical pairs (expected violated).

    Scale: ONE fact scan — every row emits its candidate tuples
    through a single explode (the PMI one-pass device), then two
    map-side-combined integer aggregations: per-(candidate,
    determinant) distinct-dependent counts, then the per-candidate
    violation rollup. No joins, no windows."""
    o = load_table(spark, sf_dir, "orders")
    emit = F.array(
        *[
            F.struct(
                F.lit(f"{d}->{p}").alias("cand"),
                F.col(d).cast("string").alias("det"),
                F.col(p).cast("string").alias("dep"),
            )
            for d, p in FD_CANDIDATES
        ]
    )
    grp = (
        o.select(F.explode(emit).alias("e"))
        .groupBy(F.col("e.cand").alias("cand"), F.col("e.det").alias("det"))
        .agg(
            F.count_distinct("e.dep").cast("bigint").alias("ndep"),
            F.count("*").cast("bigint").alias("nrows"),
        )
    )
    viol = (F.col("ndep") > 1).cast("bigint")
    return (
        grp.groupBy("cand")
        .agg(
            F.count("*").cast("bigint").alias("n_determinants"),
            F.sum(viol).cast("bigint").alias("n_violating"),
            F.sum(F.when(F.col("ndep") > 1, F.col("nrows")).otherwise(0))
            .cast("bigint")
            .alias("n_rows_affected"),
        )
        .select(
            F.col("cand").alias("candidate"),
            "n_determinants",
            "n_violating",
            "n_rows_affected",
            (F.col("n_violating") == 0).cast("int").alias("holds"),
        )
        .orderBy("candidate")
    )


# --- order-total value reconciliation --------------------------------------

_LINE_CENTS = (
    "CAST(ROUND(l_extendedprice * (1 + l_tax) * (1 - l_discount) * 100)"
    " AS BIGINT)"
)

_RECON_ORACLE = f"""
    WITH lines AS (
      SELECT l_orderkey, CAST(SUM({_LINE_CENTS}) AS BIGINT) AS line_cents
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS hdr_cents,
             lines.line_cents
      FROM orders LEFT JOIN lines ON o_orderkey = lines.l_orderkey
    )
    SELECT CASE WHEN line_cents IS NULL THEN CAST(NULL AS BIGINT)
                ELSE CAST((100 * line_cents) // hdr_cents AS BIGINT) END
             AS pct_band,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN line_cents = hdr_cents THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact
    FROM j GROUP BY 1 ORDER BY pct_band NULLS FIRST
    """


@query("orders_total_reconciliation", oracle=_RECON_ORACLE)
def orders_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail value reconciliation — the finance-grade audit
    behind every invoicing pipeline: recompute each order's charge
    from its line items (extendedprice x (1+tax) x (1-discount), in
    cents) and band the ratio to the header total in integer percent.
    A healthy warehouse concentrates at band 100 with n_exact == n;
    the NULL band counts headers with no lines at all (this synthetic
    fixture's totals are independent of its lines, so the audit
    correctly reports a broken invariant — which is the point of
    shipping the audit). Complements ``fk_orphan_audit``: that checks
    key EXISTENCE, this checks value CONSISTENCY.

    Scale: the detail side partial-aggregates to one row per order
    key BEFORE the join (map-side combine on the fact scan), so the
    header join is key-to-key, never row-to-row; the band rollup is
    bounded by the ratio domain."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr(_LINE_CENTS).alias("lc")
    )
    lines = li.groupBy("l_orderkey").agg(
        F.sum("lc").cast("bigint").alias("line_cents")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
            "hdr_cents"
        ),
    )
    j = o.join(lines, o["o_orderkey"] == lines["l_orderkey"], "left")
    band = F.when(
        F.col("line_cents").isNotNull(),
        F.expr("(100 * line_cents) div hdr_cents"),
    ).cast("bigint")
    return (
        j.groupBy(band.alias("pct_band"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.when(F.col("line_cents") == F.col("hdr_cents"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_exact"),
        )
        .orderBy(F.col("pct_band").asc_nulls_first())
    )


# --- return-rate hotspots by brand ------------------------------------------

RETURN_MIN_LINES = 50  # support floor: rates over tiny counts are noise

_RETURN_ORACLE = f"""
    SELECT p_brand AS brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS return_rate
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand HAVING count(*) >= {RETURN_MIN_LINES}
    ORDER BY return_rate DESC, brand
    """


@query("brand_return_rates", oracle=_RETURN_ORACLE)
def brand_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate hotspots by part brand — the supply-chain QA
    screen: share of line items flagged returned per brand, support-
    floored at {MIN} lines so a brand with three shipments cannot top
    the leaderboard on one return (the same small-sample guard every
    rate ranking needs). Ranked worst-first with a deterministic
    brand tiebreak. Exact integer counts; one rate division.

    Scale: one fact scan with the part dim broadcast (brand is the
    only column read from part — column pruning reaches the scan),
    reduced map-side to the O(brands) rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    returned = (F.col("l_returnflag") == "R").cast("bigint")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(returned).cast("bigint").alias("n_returned"),
            (
                F.sum(returned).cast("double")
                / F.count("*").cast("double")
            ).alias("return_rate"),
        )
        .where(F.col("n_lines") >= RETURN_MIN_LINES)
        .orderBy(F.col("return_rate").desc(), "brand")
    )


brand_return_rates.__doc__ = (brand_return_rates.__doc__ or "").replace(
    "{MIN}", str(RETURN_MIN_LINES)
)
