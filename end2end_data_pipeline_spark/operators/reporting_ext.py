"""Reporting / serving-tier operators — the queries a downstream
dashboard, search box, or monitoring layer asks of the engine once the
core analytics exist: concurrency timelines, activity bitmaps, sketch
audits, skyline/pareto reporting, keyset pagination, listagg rollups,
contingency tests, churn-gap medians, and conjunctive text search.

Reference analog: the reference serves its pivot report through a
store/serve API (``dashboard/dashboard_api.py``) — these are the
serving-shaped aggregates such a layer needs beyond the one pivot.

Scale notes (100 TB posture):
- every query reduces on a partitioned key FIRST; the only
  single-partition windows run over already-tiny frames (per-minute
  spine, distinct (price,size) combos, 4x256 sketch cells) and are
  documented per query;
- the count-min sketch is built FROM the exact per-key partial
  aggregate, which is bit-identical to hashing raw rows (sum is
  associative) and is exactly how a map-side-combine CMS behaves;
- keyset pagination is the anti-OFFSET pattern: every page is a
  predicate + top-k (TakeOrderedAndProject), never a global sort, and
  the driver only ever holds one page (bounded O(page_size) rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.functions import vectors as vec
from end2end_data_pipeline_spark.functions.texthash import (
    DUCK,
    SPARK,
    salted_md5h,
)
from end2end_data_pipeline_spark.operators.event_analytics import (
    SESSION_GAP_MINUTES,
    _sessionized,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    fan_out,
    frame_memo_tag,
    load_table,
    register_views,
    session_cached,
)

# --- sweep-line session concurrency ----------------------------------

_CONCURRENCY_ORACLE = f"""
    WITH flags AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sids AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    ), sessions AS (
      SELECT user_id, sid, min(ts) AS start_ts, max(ts) AS end_ts
      FROM sids GROUP BY 1, 2
    ), deltas AS (
      SELECT date_trunc('minute', start_ts) AS m, 1 AS delta FROM sessions
      UNION ALL
      SELECT date_trunc('minute', end_ts) + INTERVAL 1 MINUTE, -1 FROM sessions
    ), agg AS (
      SELECT m, CAST(SUM(delta) AS BIGINT) AS delta_sessions
      FROM deltas GROUP BY 1
    )
    SELECT strftime(m, '%Y-%m-%d %H:%M') AS minute, delta_sessions,
           CAST(SUM(delta_sessions) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS concurrent
    FROM agg ORDER BY minute
    """


@query("session_concurrency_timeline", oracle=_CONCURRENCY_ORACLE)
def session_concurrency_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: how many gap-based sessions are live in
    each minute that the count changes. Each session contributes a +1
    delta at its start minute and a -1 one minute after its last event;
    the running sum of per-minute deltas IS the live-session count —
    the classic O(n log n) interval-overlap reduction, with no
    session x minute explode and no self-join.

    Scale: sessionization shuffles once on ``user_id`` (lag + running
    flag + per-session min/max all share that partitioning); the deltas
    then reduce to an O(#minutes) spine (<= 1440/day regardless of
    event volume), so the final unpartitioned running-sum window is
    bounded by calendar time, not data size."""
    sids = _sessionized(load_table(spark, sf_dir, "events"))
    sessions = sids.groupBy("user_id", "sid").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )
    # explode (start,+1)/(end+1min,-1) from ONE sessions frame — a
    # UNION of two selects would recompute the whole sessionization
    # pipeline (and rescan events) once per branch
    deltas = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.date_trunc("minute", "start_ts").alias("m"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    (
                        F.date_trunc("minute", "end_ts")
                        + F.expr("INTERVAL 1 MINUTE")
                    ).alias("m"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("d")
    ).select("d.m", "d.delta")
    agg = deltas.groupBy("m").agg(
        F.sum("delta").cast("long").alias("delta_sessions")
    )
    spine = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        agg.withColumn(
            "concurrent", F.sum("delta_sessions").over(spine).cast("long")
        )
        .select(
            F.date_format("m", "yyyy-MM-dd HH:mm").alias("minute"),
            "delta_sessions",
            "concurrent",
        )
        .orderBy("minute")
    )


# --- per-user day-activity bitmap ------------------------------------

ACTIVITY_MASK_DAYS = 63  # one BIGINT of day bits (bit 63 kept clear)

_BITMAP_ORACLE = f"""
    WITH base AS (
      SELECT user_id,
             date_diff('day',
                       (SELECT min(date_trunc('day', ts)) FROM events),
                       date_trunc('day', ts)) AS day_idx
      FROM events
    )
    SELECT user_id,
           CAST(bit_or(CAST(1 AS BIGINT) << day_idx) AS BIGINT) AS day_mask,
           CAST(bit_count(bit_or(CAST(1 AS BIGINT) << day_idx)) AS INTEGER)
             AS active_days,
           CAST(min(day_idx) AS INTEGER) AS first_day,
           CAST(max(day_idx) AS INTEGER) AS last_day,
           count(*) AS n_events
    FROM base WHERE day_idx BETWEEN 0 AND {ACTIVITY_MASK_DAYS - 1}
    GROUP BY user_id ORDER BY user_id
    """


@query("user_activity_bitmap", oracle=_BITMAP_ORACLE)
def user_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user day-activity bitmap: one BIGINT whose bit i is set iff
    the user had any event on day i of the observation window (day 0 =
    the corpus's first day). ``bit_count(mask)`` is the exact
    distinct-active-days count WITHOUT a (user, day) distinct shuffle —
    the bitmap-index trick retention/engagement systems use so that
    cohort set-algebra (AND/OR of masks) replaces COUNT(DISTINCT).

    The window covers the first 63 days (one clear-sign-bit BIGINT);
    the driver corpus spans ~30 days, so nothing is clipped. A longer
    horizon shards into one mask column per 63-day epoch — same plan.

    Scale: single scan -> map-side ``bit_or`` partials -> one shuffle
    on ``user_id``. Output is O(|users|) — an index artifact (like
    ``doc_fingerprints``), not a report."""
    events = load_table(spark, sf_dir, "events")
    day0 = events.select(F.date_trunc("day", F.min("ts")).alias("day0"))
    base = events.crossJoin(F.broadcast(day0)).select(
        "user_id",
        F.datediff(F.date_trunc("day", "ts"), F.col("day0")).alias("day_idx"),
    )
    mask_bit = F.expr("shiftleft(CAST(1 AS BIGINT), day_idx)")
    return (
        base.where(F.col("day_idx").between(0, ACTIVITY_MASK_DAYS - 1))
        .groupBy("user_id")
        .agg(
            F.bit_or(mask_bit).alias("day_mask"),
            F.bit_count(F.bit_or(mask_bit)).cast("int").alias("active_days"),
            F.min("day_idx").cast("int").alias("first_day"),
            F.max("day_idx").cast("int").alias("last_day"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# --- count-min sketch audit ------------------------------------------

CMS_WIDTH = 256
CMS_DEPTH = 4
CMS_TOP = 20


def _str_cast(expr: str, dialect: str) -> str:
    return f"CAST({expr} AS {'STRING' if dialect == SPARK else 'VARCHAR'})"


def _cms_sql(dialect: str) -> str:
    uid = _str_cast("user_id", dialect)
    cols = ", ".join(
        f"({salted_md5h(i, uid, dialect)}) % {CMS_WIDTH} AS c{i}"
        for i in range(CMS_DEPTH)
    )
    mins = ", ".join(
        f"CAST(SUM(n) OVER (PARTITION BY c{i}) AS BIGINT)" for i in range(CMS_DEPTH)
    )
    return f"""
    WITH exact AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ), hashed AS (
      SELECT user_id, n, {cols} FROM exact
    ), est AS (
      SELECT user_id, n, LEAST({mins}) AS cms_n FROM hashed
    )
    SELECT user_id, CAST(n AS BIGINT) AS exact_n, cms_n,
           CAST(cms_n - n AS BIGINT) AS overcount
    FROM est
    ORDER BY exact_n DESC, user_id LIMIT {CMS_TOP}
    """


@query("user_count_cms_audit", oracle=_cms_sql(DUCK))
def user_count_cms_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit (Cormode & Muthukrishnan 2005): a
    {CMS_DEPTH}x{CMS_WIDTH} CMS over per-user event counts, with the
    estimate (min over rows of the hashed cell) laid beside the exact
    count for the top-{CMS_TOP} users. ``overcount >= 0`` always (CMS
    never underestimates); the magnitude shows the collision mass at
    this width. Hashes are the engine's portable salted md5 family, so
    both engines place keys in identical cells.

    Scale: the sketch is built FROM the exact per-key partial counts —
    bit-identical to hashing raw rows (sums are associative) and
    exactly what a map-side-combine CMS computes. After the per-user
    reduce, everything runs over O(|users|) rows, and the cell masses
    are window sums over {CMS_DEPTH} hash partitionings — no joins. At
    serving time only the {CMS_DEPTH}x{CMS_WIDTH} cell table ships."""
    register_views(spark, sf_dir, "events")
    return spark.sql(_cms_sql(SPARK))


user_count_cms_audit.__doc__ = (user_count_cms_audit.__doc__ or "").replace(
    "{CMS_DEPTH}", str(CMS_DEPTH)
).replace("{CMS_WIDTH}", str(CMS_WIDTH)).replace("{CMS_TOP}", str(CMS_TOP))


# --- 2-D skyline (pareto frontier) -----------------------------------

_SKYLINE_ORACLE = """
    SELECT p.p_partkey, p.p_name,
           CAST(ROUND(p.p_retailprice * 100) AS BIGINT) AS price_cents,
           p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE CAST(ROUND(q.p_retailprice * 100) AS BIGINT)
              <= CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
        AND q.p_size >= p.p_size
        AND (CAST(ROUND(q.p_retailprice * 100) AS BIGINT)
               < CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
             OR q.p_size > p.p_size))
    ORDER BY price_cents, p_partkey
    """


@query("part_price_size_skyline", oracle=_SKYLINE_ORACLE)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: parts Pareto-optimal on (cheap price, large size) —
    no other part is at most as expensive AND at least as large with
    one strict. The oracle states the dominance semantics directly
    (NOT EXISTS anti-join, quadratic); the Spark side derives the SAME
    set in O(n log n) via a cumulative max — a (price, size) combo is
    on the frontier iff its size strictly exceeds the best size among
    all STRICTLY cheaper combos and ties the best size at its own
    price. Two independent formulations matching is the point of the
    audit.

    Scale: the frontier test runs over DISTINCT (price_cents, size)
    combos — bounded by the price x size domain, not row count — so the
    unpartitioned range-frame window is O(|combos|); facts join back to
    the frontier via broadcast. The quadratic plan never runs in
    Spark."""
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    combos = (
        part.select(cents.alias("price_cents"), "p_size").distinct()
    )
    w_cheaper = Window.orderBy("price_cents").rangeBetween(
        Window.unboundedPreceding, -1
    )
    w_same = Window.partitionBy("price_cents")
    frontier = (
        combos.withColumn("best_cheaper", F.max("p_size").over(w_cheaper))
        .withColumn("best_same", F.max("p_size").over(w_same))
        .where(
            (
                F.col("best_cheaper").isNull()
                | (F.col("p_size") > F.col("best_cheaper"))
            )
            & (F.col("p_size") == F.col("best_same"))
        )
        .select("price_cents", "p_size")
    )
    return (
        part.withColumn("price_cents", cents)
        .join(F.broadcast(frontier), ["price_cents", "p_size"])
        .select("p_partkey", "p_name", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )


# --- keyset pagination parity audit ----------------------------------

PAGE_SIZE = 100
N_PAGES = 5

_PAGINATION_ORACLE = f"""
    WITH ranked AS (
      SELECT o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT CAST((rn - 1) // {PAGE_SIZE} AS BIGINT) AS page,
           count(*) AS n_rows,
           arg_max(strftime(o_orderdate, '%Y-%m-%d'), rn) AS cursor_date,
           CAST(arg_max(o_orderkey, rn) AS BIGINT) AS cursor_key,
           CAST(SUM(cents) AS BIGINT) AS cents_sum
    FROM ranked WHERE rn <= {PAGE_SIZE * N_PAGES}
    GROUP BY 1 ORDER BY page
    """

_PAGE_SCHEMA = StructType(
    [
        StructField("page", LongType(), False),
        StructField("n_rows", LongType(), False),
        StructField("cursor_date", StringType(), False),
        StructField("cursor_key", LongType(), False),
        StructField("cents_sum", LongType(), False),
    ]
)


@query("orders_keyset_pagination", oracle=_PAGINATION_ORACLE)
def orders_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination parity: walk the first {N_PAGES}
    pages of orders newest-first the way a serving API must at scale —
    each page is ``WHERE (date, key) < cursor ORDER BY ... LIMIT
    {PAGE_SIZE}`` (a TakeOrderedAndProject with a pushable predicate),
    never ``OFFSET`` (which scans and discards every earlier row; at
    page 10^6 that is a full sort per request). The oracle states the
    window-function definition of the same pages; matching page
    digests (row count, cursor handoff, cents sum) proves the cursor
    protocol loses and duplicates nothing.

    Scale: per page the driver holds O({PAGE_SIZE}) rows — the page
    being served — and each page job is top-k over the predicate-pruned
    remainder; with the table sorted/partitioned by the cursor key the
    scan prunes to the tail files. No global sort ever materializes."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pages = []
    cursor = None
    for page in range(N_PAGES):
        q = base
        if cursor is not None:
            cur_date, cur_key = cursor
            q = q.where(
                (F.col("o_orderdate") < cur_date)
                | (
                    (F.col("o_orderdate") == cur_date)
                    & (F.col("o_orderkey") < cur_key)
                )
            )
        rows = (
            q.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
            .limit(PAGE_SIZE)
            .collect()
        )
        if not rows:
            break
        last = rows[-1]
        cursor = (last.o_orderdate, last.o_orderkey)
        pages.append(
            (
                page,
                len(rows),
                last.o_orderdate.strftime("%Y-%m-%d"),
                last.o_orderkey,
                sum(r.cents for r in rows),
            )
        )
    return spark.createDataFrame(pages, _PAGE_SCHEMA).orderBy("page")


orders_keyset_pagination.__doc__ = (orders_keyset_pagination.__doc__ or "").replace(
    "{N_PAGES}", str(N_PAGES)
).replace("{PAGE_SIZE}", str(PAGE_SIZE))


# --- deterministic listagg -------------------------------------------

LISTAGG_TOP = 5

_LISTAGG_ORACLE = f"""
    WITH ranked AS (
      SELECT n.n_name AS nation, c.c_name,
             ROW_NUMBER() OVER (
               PARTITION BY n.n_name
               ORDER BY CAST(ROUND(c.c_acctbal * 100) AS BIGINT) DESC,
                        c.c_custkey) AS rnk
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT nation,
           string_agg(c_name, ',' ORDER BY rnk) AS top_customers,
           count(*) AS n_listed
    FROM ranked WHERE rnk <= {LISTAGG_TOP}
    GROUP BY nation ORDER BY nation
    """


@query("nation_customer_listagg", oracle=_LISTAGG_ORACLE)
def nation_customer_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LISTAGG: each nation's top-{LISTAGG_TOP}
    customers by account balance, comma-joined in rank order (exact
    cents, ties by custkey). ``collect_list`` alone is
    order-NONdeterministic under retries and AQE — the fix is packing
    the rank into a struct, ``array_sort``, then project — the pattern
    every within-group ordered aggregation needs on Spark. The oracle
    uses DuckDB's native ``string_agg(... ORDER BY)``.

    Scale: rank window and group-by share the nation-key shuffle; the
    aggregated string is bounded ({LISTAGG_TOP} names) per group, so
    no group blows up the row."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    w = Window.partitionBy("nation").orderBy(
        F.col("cents").desc(), F.col("c_custkey")
    )
    ranked = (
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
        )
        .select(
            F.col("n_name").alias("nation"),
            "c_name",
            "c_custkey",
            cents.alias("cents"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= LISTAGG_TOP)
    )
    return (
        ranked.groupBy("nation")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rnk", "c_name"))),
                    lambda x: x["c_name"],
                ),
                ",",
            ).alias("top_customers"),
            F.count("*").alias("n_listed"),
        )
        .orderBy("nation")
    )


nation_customer_listagg.__doc__ = (nation_customer_listagg.__doc__ or "").replace(
    "{LISTAGG_TOP}", str(LISTAGG_TOP)
)


# --- chi-square contingency audit ------------------------------------

# ONE portable SQL text for both engines. Integer bound: dev_num =
# observed*N - seg*nat <= N^2, so BIGINT holds exactly until N ~ 3e9
# customers (SF ~20,000); past that, lift the three totals to
# DECIMAL(38,0) on both engines — same fix the GE(2) index uses.
_CHISQ_SQL = """
    WITH obs AS (
      SELECT c.c_mktsegment AS segment, n.n_name AS nation,
             CAST(count(*) AS BIGINT) AS observed
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT segment, nation, observed,
             CAST(SUM(observed) OVER (PARTITION BY segment) AS BIGINT)
               AS seg_total,
             CAST(SUM(observed) OVER (PARTITION BY nation) AS BIGINT)
               AS nat_total,
             CAST(SUM(observed) OVER () AS BIGINT) AS n_total
      FROM obs
    )
    SELECT segment, nation, observed, seg_total, nat_total, n_total,
           CAST(observed * n_total - seg_total * nat_total AS BIGINT)
             AS dev_num,
           (CAST(observed * n_total - seg_total * nat_total AS DOUBLE)
            * CAST(observed * n_total - seg_total * nat_total AS DOUBLE))
           / (CAST(n_total AS DOUBLE) * CAST(seg_total AS DOUBLE)
              * CAST(nat_total AS DOUBLE)) AS chi2_term
    FROM tot ORDER BY segment, nation
    """


@query("segment_nation_chisq", oracle=_CHISQ_SQL)
def segment_nation_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency audit over the market-segment x nation
    customer matrix: per cell, the exact-integer deviation numerator
    ``observed*N - rowTotal*colTotal`` (zero iff independent) and the
    chi-square term ``dev^2 / (N * rowTotal * colTotal)`` — algebra of
    ``(O-E)^2/E`` with E = rowTotal*colTotal/N cleared of nested
    division so each double is ONE division of exact integers
    (bit-identical across engines regardless of aggregation order).
    The independence screen feature-drift monitors run per batch.

    Scale: facts reduce to the O(|segments| x |nations|) cell matrix
    first (broadcast dim join, partial agg); all three marginal windows
    run over that tiny matrix."""
    register_views(spark, sf_dir, "customer", "nation")
    return spark.sql(_CHISQ_SQL)


# --- median inter-order gap ------------------------------------------

GAP_BAND_DAYS = 7

_GAP_MEDIAN_ORACLE = f"""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(floor((epoch(o_orderdate) - epoch(lag(o_orderdate) OVER w))
                        / 86400) AS BIGINT) AS gap_days,
             o_orderkey
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), nn AS (
      SELECT o_custkey, gap_days,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY gap_days, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_custkey) AS n
      FROM gaps WHERE gap_days IS NOT NULL
    ), med AS (
      SELECT o_custkey, gap_days AS median_gap
      FROM nn WHERE n >= 2 AND rn = CAST(floor((n + 1) / 2) AS BIGINT)
    )
    SELECT CAST((median_gap // {GAP_BAND_DAYS}) * {GAP_BAND_DAYS} AS BIGINT)
             AS band_lo_days,
           count(*) AS n_customers,
           CAST(min(median_gap) AS BIGINT) AS min_median,
           CAST(max(median_gap) AS BIGINT) AS max_median
    FROM med GROUP BY 1 ORDER BY band_lo_days
    """


@query("customer_order_gap_median", oracle=_GAP_MEDIAN_ORACLE)
def customer_order_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-signal medians: per repeat customer (>= 3 orders), the
    LOWER MEDIAN of day gaps between consecutive orders — an exact
    order statistic (element at position floor((n+1)/2) of the sorted
    gaps, ties broken by orderkey), deterministic where AVG-of-doubles
    and interpolated percentiles are not — banded into
    {GAP_BAND_DAYS}-day buckets for the reorder-cadence report.

    Scale: both windows (consecutive-order lag; rank-within-gaps) and
    the median pick partition on ``o_custkey``, so the whole query is
    ONE shuffle on the customer key followed by an O(|bands|)
    aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap_days = F.floor(
        (
            F.col("o_orderdate").cast("long")
            - F.lag("o_orderdate").over(w).cast("long")
        )
        / 86400
    ).cast("long")
    gaps = (
        orders.withColumn("gap_days", gap_days)
        .where(F.col("gap_days").isNotNull())
        .select("o_custkey", "gap_days", "o_orderkey")
    )
    wg = Window.partitionBy("o_custkey").orderBy("gap_days", "o_orderkey")
    nn = gaps.withColumn("rn", F.row_number().over(wg)).withColumn(
        "n", F.count("*").over(Window.partitionBy("o_custkey"))
    )
    med = nn.where(
        (F.col("n") >= 2) & (F.col("rn") == F.floor((F.col("n") + 1) / 2))
    ).select(F.col("gap_days").alias("median_gap"))
    band = (F.floor(F.col("median_gap") / GAP_BAND_DAYS) * GAP_BAND_DAYS).cast("long")
    return (
        med.groupBy(band.alias("band_lo_days"))
        .agg(
            F.count("*").alias("n_customers"),
            F.min("median_gap").cast("long").alias("min_median"),
            F.max("median_gap").cast("long").alias("max_median"),
        )
        .orderBy("band_lo_days")
    )


customer_order_gap_median.__doc__ = (customer_order_gap_median.__doc__ or "").replace(
    "{GAP_BAND_DAYS}", str(GAP_BAND_DAYS)
)


# --- conjunctive posting-list search ---------------------------------

SEARCH_TERMS = ("spark", "merge", "window")
SEARCH_TOP = 20


def _search_sql(dialect: str) -> str:
    terms_list = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    if dialect == SPARK:
        toks = (
            "SELECT doc_id, t FROM documents "
            "LATERAL VIEW explode(split(text, ' ')) x AS t"
        )
    else:
        toks = "SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents"
    per_term = ", ".join(
        f"CAST(SUM(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{t}"
        for t in SEARCH_TERMS
    )
    return f"""
    WITH toks AS ({toks}),
    hits AS (
      SELECT doc_id, t FROM toks WHERE t IN ({terms_list})
    ), scored AS (
      SELECT doc_id, count(*) AS tf_total, {per_term}
      FROM hits GROUP BY doc_id
      HAVING count(DISTINCT t) = {len(SEARCH_TERMS)}
    )
    SELECT doc_id, CAST(tf_total AS BIGINT) AS tf_total,
           {", ".join(f"tf_{t}" for t in SEARCH_TERMS)}
    FROM scored
    ORDER BY tf_total DESC, doc_id LIMIT {SEARCH_TOP}
    """


@query("docs_conjunctive_search", oracle=_search_sql(DUCK))
def docs_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-text search: documents containing ALL query
    terms, ranked by total term frequency (ties by doc_id), with the
    per-term facet counts a search UI renders. The inverted-index
    pattern: tokenize -> keep only postings for the query terms (the
    selective filter rides INTO the token explode, so the shuffle
    carries query-term postings, not the whole corpus vocabulary) ->
    per-doc AND via distinct-term count.

    Scale: post-filter volume is O(sum of query-term postings); the
    top-k is a {SEARCH_TOP}-row TakeOrdered. Against a PRE-BUILT
    postings table partitioned by term bucket (the
    ``ann_ivf_persisted`` layout applied to text), the scan prunes to
    the query terms' buckets via DPP — same plan shape, no tokenize."""
    register_views(spark, sf_dir, "documents")
    return spark.sql(_search_sql(SPARK))


docs_conjunctive_search.__doc__ = (docs_conjunctive_search.__doc__ or "").replace(
    "{SEARCH_TOP}", str(SEARCH_TOP)
)


# --- positional phrase search ----------------------------------------

PHRASE = ("table", "scan")
PHRASE_TOP = 20

_PHRASE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), toks AS (
      SELECT doc_id, unnest(range(1, len(ts) + 1)) AS pos, unnest(ts) AS tok
      FROM t
    ), p1 AS (
      SELECT doc_id, pos FROM toks WHERE tok = '{PHRASE[0]}'
    ), p2 AS (
      SELECT doc_id, pos FROM toks WHERE tok = '{PHRASE[1]}'
    )
    SELECT p1.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
    FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
    GROUP BY 1
    ORDER BY phrase_tf DESC, doc_id LIMIT {PHRASE_TOP}
    """


@query("docs_phrase_search", oracle=_PHRASE_ORACLE)
def docs_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index: documents
    containing the adjacent token sequence "{P0} {P1}", ranked by
    phrase frequency (ties by doc_id) — the capability a bag-of-words
    index (``docs_conjunctive_search``) cannot express. The oracle is
    the positional-postings formulation (postings carry (doc_id,
    position); adjacency is the equi-join pos2 = pos1 + 1) — the plan
    you would run against a PRE-BUILT positional index, where it
    prunes to the two terms' partitions via DPP. Both formulations
    count OVERLAPPING occurrences correctly where substring-replace
    counting would not (e.g. "a b a b" for phrase "a b").

    Scale: with INLINE tokenization a postings self-join would scan
    the corpus twice; instead the adjacent-pair predicate fuses into
    array combinators (zip_with over the token array against its
    own 1-shift, then filter/size) so the whole count is ONE corpus
    scan with ZERO shuffle — the only exchange is the O({TOP})
    TakeOrdered. Codegen keeps the lambda JVM-side; no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    hits = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda a, b: (a == PHRASE[0]) & (b == PHRASE[1]),
    )
    return (
        docs.select(
            "doc_id",
            F.size(F.filter(hits, lambda x: x)).cast("bigint").alias("phrase_tf"),
        )
        .where(F.col("phrase_tf") >= 1)
        .orderBy(F.col("phrase_tf").desc(), "doc_id")
        .limit(PHRASE_TOP)
    )


docs_phrase_search.__doc__ = (docs_phrase_search.__doc__ or "").replace(
    "{P0}", PHRASE[0]
).replace("{P1}", PHRASE[1]).replace("{TOP}", str(PHRASE_TOP))


# --- BM25 ranked retrieval -------------------------------------------

BM25_TOP = 20
# k1 = 1.2 and b = 0.75 (the standard Robertson constants) folded into
# the exact-rational term formula below: multiplying the tf-saturation
# fraction through by 20*s_dl clears every denominator, so the only
# floating-point ops are the two divisions + multiply + adds of the
# final score expression — identical text on both engines.
_BM25_TERM_SCORE = (
    "(CAST(2 * (n_docs - df_{t}) + 1 AS DOUBLE) / (2 * df_{t} + 1))"
    " * (44 * tf_{t} * s_dl)"
    " / (20 * s_dl * tf_{t} + 6 * s_dl + 18 * dl * n_docs)"
)


def _bm25_score_sql() -> str:
    """The score expression — shared verbatim by both engines so the
    DOUBLE arithmetic tree has identical shape."""
    return " + ".join(_BM25_TERM_SCORE.format(t=t) for t in SEARCH_TERMS)


def _bm25_oracle() -> str:
    tfs = ", ".join(
        f"CAST(len(list_filter(ts, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in SEARCH_TERMS
    )
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in SEARCH_TERMS
    )
    any_tf = " + ".join(f"tf_{t}" for t in SEARCH_TERMS)
    out_tfs = ", ".join(f"tf_{t}" for t in SEARCH_TERMS)
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), pd AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl, {tfs} FROM t
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS s_dl, {dfs}
      FROM pd
    )
    SELECT doc_id, dl, {out_tfs}, {_bm25_score_sql()} AS score
    FROM pd CROSS JOIN tot
    WHERE {any_tf} > 0
    ORDER BY score DESC, doc_id LIMIT {BM25_TOP}
    """


@query("docs_bm25_search", oracle=_bm25_oracle())
def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for the {TERMS} query — the third tier of
    the text-search family: boolean AND (``docs_conjunctive_search``),
    exact phrase (``docs_phrase_search``), and now relevance-RANKED
    disjunctive match, the scoring a real search backend serves.
    Standard Robertson BM25 (k1=1.2, b=0.75) with the log-free
    rational idf (N-df+0.5)/(df+0.5): every input (tf, df, dl, N,
    Σdl) is an exact integer and the score is one fixed-shape DOUBLE
    expression shared verbatim with the oracle, so ranking is
    bit-stable across engines.

    Scale: term frequencies come from array combinators on the token
    array (no explode, no postings shuffle) — ONE corpus scan into a
    cached one-row-per-doc profile; corpus statistics (N, Σdl, df_t)
    reduce that profile to a single broadcast row, and scoring is a
    map-side crossJoin against it. The top-k is a {TOP}-row
    TakeOrdered. At index-serving scale the same scoring rides a
    pre-built (doc, term, tf) postings table pruned to the query
    terms."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")

    def _tf(term: str):
        # closure factory: a two-arg lambda would make F.filter
        # pass the array INDEX as the second argument
        return F.size(F.filter(ts, lambda x: x == term)).cast("bigint")

    tf_cols = [_tf(t).alias(f"tf_{t}") for t in SEARCH_TERMS]
    # session_cached: the totals and scoring branches both read the
    # per-doc profile (a bare cache would also accumulate one
    # InMemoryRelation per invocation). One row per document.
    pd_df = session_cached(
        spark,
        frame_memo_tag(sf_dir, "bm25_perdoc"),
        lambda: docs.select(
            "doc_id", F.size(ts).cast("bigint").alias("dl"), *tf_cols
        ),
    )
    tot = pd_df.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("s_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"df_{t}")
            for t in SEARCH_TERMS
        ],
    )
    any_tf = sum(
        (F.col(f"tf_{t}") for t in SEARCH_TERMS[1:]),
        F.col(f"tf_{SEARCH_TERMS[0]}"),
    )
    return (
        pd_df.crossJoin(F.broadcast(tot))
        .where(any_tf > 0)
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in SEARCH_TERMS],
            F.expr(_bm25_score_sql()).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP)
    )


docs_bm25_search.__doc__ = (docs_bm25_search.__doc__ or "").replace(
    "{TERMS}", " ".join(SEARCH_TERMS)
).replace("{TOP}", str(BM25_TOP))


# --- hybrid retrieval: reciprocal-rank fusion ----------------------------

RRF_K = 60  # the standard fusion constant (Cormack et al. 2009)
RRF_QUERY_ID = 7  # the "more like this" anchor document / vector
RRF_SEM_POOL = 20  # semantic candidates fused (= BM25_TOP lexically)
RRF_TOP = 20

# the fusion arithmetic, shared VERBATIM by both engines (two exact
# reciprocals of small integers, one fixed-order addition)
_RRF_EXPR = (
    f"(CASE WHEN lex_rank IS NULL THEN CAST(0 AS DOUBLE)"
    f" ELSE CAST(1 AS DOUBLE) / ({RRF_K} + lex_rank) END"
    f" + CASE WHEN sem_rank IS NULL THEN CAST(0 AS DOUBLE)"
    f" ELSE CAST(1 AS DOUBLE) / ({RRF_K} + sem_rank) END)"
)


def _rrf_oracle() -> str:
    q = vec.quantize("embedding", DUCK)
    cos = vec.cosine_q("qv", "q_qv", "norm2", "q_norm2", DUCK)
    return f"""
    WITH lex0 AS (
      SELECT doc_id, score FROM ({_bm25_oracle()})
    ), lexr AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS lex_rank
      FROM lex0
    ), qbase AS (
      SELECT vec_id, {q} AS qv,
             {vec.dot_q(q, q, DUCK)} AS norm2
      FROM embeddings
    ), qrow AS (
      SELECT qv AS q_qv, norm2 AS q_norm2 FROM qbase
      WHERE vec_id = {RRF_QUERY_ID}
    ), sem0 AS (
      SELECT vec_id, {cos} AS cosine
      FROM qbase CROSS JOIN qrow WHERE vec_id <> {RRF_QUERY_ID}
    ), semr AS (
      SELECT vec_id, CAST(rnk AS BIGINT) AS sem_rank FROM (
        SELECT vec_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk
        FROM sem0
      ) WHERE rnk <= {RRF_SEM_POOL}
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.vec_id) AS doc_id,
             l.lex_rank, s.sem_rank
      FROM lexr l FULL JOIN semr s ON l.doc_id = s.vec_id
    )
    SELECT doc_id, lex_rank, sem_rank, {_RRF_EXPR} AS rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP}
    """


@query("docs_hybrid_rrf_search", oracle=_rrf_oracle())
def docs_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    2009): the lexical BM25 ranking for the standing query terms and
    the semantic cosine ranking around anchor vector {QID} are fused
    as sum over systems of 1/({K} + rank) — the score-free fusion
    every two-tower search stack ships because BM25 scores and cosine
    similarities are not commensurable. Completes the retrieval
    family: boolean -> phrase -> BM25 -> ANN -> hybrid. A document
    ranked by only one system still fuses (its missing rank
    contributes zero); ranks are integers, so the score is two exact
    reciprocals in a fixed-order sum — bit-stable across engines.

    Scale: both input rankings are top-k TakeOrdereds (the corpus is
    never globally sorted); the rank windows run over the fused pools
    (<= {POOL} rows/system), and the fusion is a full outer join of
    two pool-bounded frames. Composes the registered
    ``docs_bm25_search`` verbatim, so the lexical side inherits its
    single-scan cached-profile plan."""
    lex = docs_bm25_search(spark, sf_dir).select("doc_id", "score")
    wl = Window.orderBy(F.col("score").desc(), "doc_id")
    lexr = lex.select(
        "doc_id", F.row_number().over(wl).cast("bigint").alias("lex_rank")
    )
    emb = fan_out(spark, load_table(spark, sf_dir, "embeddings"))
    q = vec.quantize("embedding", SPARK)
    base = emb.select(F.col("vec_id"), F.expr(q).alias("qv")).withColumn(
        "norm2", F.expr(vec.dot_q("qv", "qv", SPARK))
    )
    qrow = F.broadcast(
        base.where(F.col("vec_id") == RRF_QUERY_ID).select(
            F.col("qv").alias("q_qv"), F.col("norm2").alias("q_norm2")
        )
    )
    sem = (
        base.where(F.col("vec_id") != RRF_QUERY_ID)
        .crossJoin(qrow)
        .select(
            "vec_id",
            F.expr(
                vec.cosine_q("qv", "q_qv", "norm2", "q_norm2", SPARK)
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(RRF_SEM_POOL)
    )
    ws = Window.orderBy(F.col("cosine").desc(), "vec_id")
    semr = sem.select(
        "vec_id", F.row_number().over(ws).cast("bigint").alias("sem_rank")
    )
    fused = lexr.join(
        semr, lexr["doc_id"] == semr["vec_id"], "full_outer"
    ).select(
        F.coalesce(lexr["doc_id"], semr["vec_id"]).alias("doc_id"),
        "lex_rank",
        "sem_rank",
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.expr(_RRF_EXPR).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(RRF_TOP)
    )


docs_hybrid_rrf_search.__doc__ = (
    (docs_hybrid_rrf_search.__doc__ or "")
    .replace("{QID}", str(RRF_QUERY_ID))
    .replace("{K}", str(RRF_K))
    .replace("{POOL}", str(RRF_SEM_POOL))
)


# --- 4-4-5 fiscal calendar rollup -----------------------------------------

FISCAL_EPOCH = "1995-01-01"  # fiscal year 1 begins here (corpus start)
SPARK_IDIV = "div"  # Spark integer division; DuckDB uses //

# week-in-year -> 4-4-5 period, as pure integer arithmetic both
# engines share: 13-week quarters split 4/4/5
_F445 = (
    "(CAST({wiy} AS BIGINT) {idiv} 13) * 3"
    " + (CASE WHEN {wiy} % 13 < 4 THEN 0"
    "         WHEN {wiy} % 13 < 8 THEN 1 ELSE 2 END) + 1"
)


def _fiscal_oracle() -> str:
    d = f"date_diff('day', DATE '{FISCAL_EPOCH}', CAST(o_orderdate AS DATE))"
    wiy = f"(({d}) // 7) % 52"
    return f"""
    SELECT CAST(({d}) // 7 // 52 + 1 AS BIGINT) AS fiscal_year,
           CAST({_F445.format(wiy=wiy, idiv="//")} AS BIGINT) AS fiscal_period,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_cents
    FROM orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@query("orders_fiscal_445_rollup", oracle=_fiscal_oracle())
def orders_fiscal_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by 4-4-5 fiscal period — the retail-standard fiscal
    calendar (twelve periods of 4, 4, then 5 weeks per 13-week
    quarter, 52-week years anchored at {EPOCH}) that comparable-sales
    reporting uses because every period spans whole weeks and periods
    align year-over-year. The mapping is pure integer arithmetic on
    the day index (div 7 -> week, div 52 -> year, a 13-week quarter
    split), identical in both engines — no calendar UDF, no lookup
    dimension to maintain (the dimension-table variant materializes
    exactly this expression).

    Scale: one map-side-combined rollup bounded by fiscal periods —
    the fiscal-period expression rides the scan, so partition pruning
    on o_orderdate ranges still applies upstream."""
    d = f"datediff(o_orderdate, DATE'{FISCAL_EPOCH}')"
    wiy = f"(({d}) div 7) % 52"
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.expr(f"CAST(({d}) div 7 div 52 + 1 AS BIGINT)").alias(
                "fiscal_year"
            ),
            F.expr(
                f"CAST({_F445.format(wiy=wiy, idiv=SPARK_IDIV)} AS BIGINT)"
            ).alias(
                "fiscal_period"
            ),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
                "rev_cents"
            ),
        )
        .orderBy("fiscal_year", "fiscal_period")
    )


orders_fiscal_445_rollup.__doc__ = (
    orders_fiscal_445_rollup.__doc__ or ""
).replace("{EPOCH}", FISCAL_EPOCH)


# --- month-over-month revenue waterfall -------------------------------------

_WATERFALL_ORACLE = """
    WITH cells AS (
      SELECT date_diff('month', DATE '1995-01-01',
                       CAST(o_orderdate AS DATE)) AS month_idx,
             c_mktsegment AS segment,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), lagged AS (
      SELECT month_idx, segment, cents,
             CAST(COALESCE(lag(cents) OVER (PARTITION BY segment
                                            ORDER BY month_idx), 0)
               AS BIGINT) AS prev_cents
      FROM cells
    )
    SELECT CAST(month_idx AS BIGINT) AS month_idx, segment, cents,
           prev_cents,
           CAST(cents - prev_cents AS BIGINT) AS delta_cents,
           CAST(SUM(cents - prev_cents) OVER (PARTITION BY month_idx)
             AS BIGINT) AS total_delta_cents
    FROM lagged WHERE month_idx > 0
    ORDER BY month_idx, segment
    """


@query("revenue_mom_waterfall", oracle=_WATERFALL_ORACLE)
def revenue_mom_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue waterfall: each month's total revenue
    delta decomposed into exact per-segment contributions — the
    "which segment moved the number" chart every revenue review opens
    with. Because the cells are exact integer cents, the per-segment
    deltas sum EXACTLY to the month's total delta (carried alongside
    for the conservation check) — a float pipeline can't promise
    that, and a waterfall that doesn't reconcile is worse than none.
    A segment absent in the prior month contributes its full amount
    (prev coalesced to 0); a segment vanishing ENTIRELY mid-series
    would need the zero-filled grid (the gapfill device) to carry its
    negative contribution — on this schema every segment transacts
    every month, and the test pins the reconciliation.

    Scale: one fact rollup to the O(months x segments) cell grid
    (customer dim broadcast); the lag and the month-total both window
    over that bounded grid."""
    o = load_table(spark, sf_dir, "orders").select(
        F.expr("datediff(MONTH, DATE'1995-01-01', o_orderdate)")
        .cast("bigint")
        .alias("month_idx"),
        "o_custkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("cents0"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("month_idx", F.col("c_mktsegment").alias("segment"))
        .agg(F.sum("cents0").cast("bigint").alias("cents"))
    )
    wl = Window.partitionBy("segment").orderBy("month_idx")
    lagged = cells.select(
        "month_idx",
        "segment",
        "cents",
        F.coalesce(F.lag("cents").over(wl), F.lit(0))
        .cast("bigint")
        .alias("prev_cents"),
    )
    wm = Window.partitionBy("month_idx")
    return (
        lagged.where(F.col("month_idx") > 0)
        .select(
            "month_idx",
            "segment",
            "cents",
            "prev_cents",
            (F.col("cents") - F.col("prev_cents"))
            .cast("bigint")
            .alias("delta_cents"),
            F.sum(F.col("cents") - F.col("prev_cents"))
            .over(wm)
            .cast("bigint")
            .alias("total_delta_cents"),
        )
        .orderBy("month_idx", "segment")
    )
