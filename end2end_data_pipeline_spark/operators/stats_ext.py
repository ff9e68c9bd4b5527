"""Nonparametric / distribution-comparison statistics tier — the
trend, association, and two-sample tests a data-quality or drift
monitor runs over the warehouse: Mann-Kendall trend, Kendall tau,
a banded two-sample Kolmogorov-Smirnov distance, Mann-Whitney U /
ROC-AUC, the Wald-Wolfowitz runs test, and a count-min-sketch
self-join cardinality estimate (the optimizer's classic sketch use).

Reference analog: the reference's single anomaly metric is an error
RATE threshold (``airflow/dags/spark.py:38-44``); these are the
distribution-level screens the same monitoring layer needs once the
data volume makes "eyeball the counts" impossible.

Exactness contract (the oracle-hash rules): every statistic is either
an exact integer (pair counts, S, runs, medians in cents) or ONE
cast-first double expression over exact integers, so Spark and DuckDB
agree bit-for-bit. No ln(), no float accumulation, no sqrt — z-scores
and p-values are the caller's last-mile step over the exact
ingredients returned here.

Scale notes (100 TB posture):
- every query reduces on a partitioned key FIRST (week, band, day,
  quantity value, partkey); pairwise work then runs over
  calendar-bounded or domain-bounded spines (<= ~370 weeks, ~2.5 k
  days, 50 quantity values, CMS cells), never over raw rows;
- the week-pair generators build pairs INSIDE one aggregated array
  (collect_list over a calendar-bounded group) instead of a
  self-join, so the fact table is scanned once, not twice;
- accumulators that square row counts (Mann-Whitney, CMS inner
  product) run in DECIMAL(38,0) / HUGEINT — exact to 10^38, the ge2
  fix — and only cross the output boundary as cast-first doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.functions.texthash import (
    DUCK,
    SPARK,
    salted_md5h,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    register_views,
    session_cached,
)

# Epoch anchoring the weekly / daily indexes: the corpus' first order
# date (TPC-H ships 1992-01-01..1998-08-02), so indexes are small,
# positive, and engine-portable integers.
EPOCH = "1992-01-01"

_CENTS = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"


def _pairs_expr(arr: str, pair: str) -> str:
    """Spark SQL: all i<j pairs of ``arr`` mapped through ``pair``, a
    lambda body over structs ``x`` (earlier) and ``y`` (later). The
    array is calendar-bounded (weeks), so the quadratic stays O(370^2)
    per group regardless of fact volume."""
    return (
        f"flatten(transform({arr}, (x, i) -> "
        f"transform(slice({arr}, i + 2, size({arr}) - i - 1), "
        f"y -> {pair})))"
    )


# --- Mann-Kendall trend test ------------------------------------------

_MK_ORACLE = f"""
    WITH weekly AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) // 7
               AS week_idx,
             SUM({_CENTS}) AS rev_cents
      FROM orders GROUP BY 1, 2
    ), pairs AS (
      SELECT a.priority,
             CASE WHEN b.rev_cents > a.rev_cents THEN 1
                  WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END AS s
      FROM weekly a JOIN weekly b
        ON a.priority = b.priority AND a.week_idx < b.week_idx
    ), nw AS (
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_weeks
      FROM weekly GROUP BY 1
    )
    SELECT p.priority, nw.n_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(s) AS BIGINT) AS s_stat,
           CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
           CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties,
           CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS trend_score
    FROM pairs p JOIN nw ON p.priority = nw.priority
    GROUP BY p.priority, nw.n_weeks
    ORDER BY p.priority
    """


@query("orders_weekly_mann_kendall", oracle=_MK_ORACLE)
def orders_weekly_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test (Mann 1945; Kendall 1975) on weekly
    revenue per order priority: S = sum over week pairs i<j of
    sign(rev_j - rev_i), with the concordant/discordant/tie split —
    the standard monotone-trend screen that needs no distributional
    assumption and no float accumulation. ``trend_score`` is S over
    the pair count (tau-a), one exact-integer division.

    The oracle states the semantics as the quadratic self-join; the
    Spark side builds the SAME pairs inside one collect_list'd
    calendar-bounded array (<= ~370 weeks/priority — bounded by the
    date domain, not fact volume), so orders is scanned ONCE and no
    join ever materializes the pair table.

    Scale: one fact shuffle (the week x priority rollup, map-side
    combined); the pair stage is O(priorities x weeks^2) = O(5 x
    370^2) scalar ops inside a single task. At any SF the array size
    is the calendar, never the data."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"datediff(o_orderdate, DATE'{EPOCH}') div 7").alias("week_idx"),
    ).agg(F.expr(f"SUM({_CENTS})").alias("rev_cents"))
    arr = weekly.groupBy("priority").agg(
        F.sort_array(F.collect_list(F.struct("week_idx", "rev_cents"))).alias(
            "wk"
        )
    )
    pairs = _pairs_expr(
        "wk",
        "CASE WHEN y.rev_cents > x.rev_cents THEN 1 "
        "WHEN y.rev_cents < x.rev_cents THEN -1 ELSE 0 END",
    )
    return (
        arr.select(
            "priority",
            F.expr("CAST(size(wk) AS BIGINT)").alias("n_weeks"),
            F.expr(pairs).alias("p"),
        )
        .select(
            "priority",
            "n_weeks",
            F.expr("CAST(size(p) AS BIGINT)").alias("n_pairs"),
            F.expr(
                "CAST(aggregate(p, 0L, (acc, v) -> acc + v) AS BIGINT)"
            ).alias("s_stat"),
            F.expr("CAST(size(filter(p, v -> v = 1)) AS BIGINT)").alias(
                "n_plus"
            ),
            F.expr("CAST(size(filter(p, v -> v = -1)) AS BIGINT)").alias(
                "n_minus"
            ),
            F.expr("CAST(size(filter(p, v -> v = 0)) AS BIGINT)").alias(
                "n_ties"
            ),
        )
        .filter(F.col("n_pairs") > 0)
        .withColumn(
            "trend_score",
            F.col("s_stat").cast("double") / F.col("n_pairs").cast("double"),
        )
        .orderBy("priority")
    )


# --- Kendall tau between two weekly series ----------------------------

_TAU_ORACLE = f"""
    WITH weekly AS (
      SELECT date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) // 7
               AS week_idx,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM({_CENTS}) AS rev_cents
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT CASE WHEN b.n_orders > a.n_orders THEN 1
                  WHEN b.n_orders < a.n_orders THEN -1 ELSE 0 END AS dx,
             CASE WHEN b.rev_cents > a.rev_cents THEN 1
                  WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END AS dy
      FROM weekly a JOIN weekly b ON a.week_idx < b.week_idx
    )
    SELECT CAST((SELECT COUNT(*) FROM weekly) AS BIGINT) AS n_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN dx * dy = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(SUM(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_x,
           CAST(SUM(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_y,
           CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_both,
           CAST(SUM(dx * dy) AS BIGINT) AS tau_num,
           CAST(SUM(dx * dy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS tau_a
    FROM pairs HAVING COUNT(*) > 0
    """


@query("orders_weekly_kendall_tau", oracle=_TAU_ORACLE)
def orders_weekly_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation between two weekly series — order
    COUNT vs revenue — as the exact concordant/discordant/tie census
    over all week pairs. ``tau_num`` = concordant - discordant (the
    numerator both tau-a and tau-b share; note sum(dx*dy) counts
    exactly that, since tied pairs contribute 0); ``tau_a`` divides it
    by the pair count. The sqrt-normalized tau-b is the caller's
    last-mile step over the exact tie counts returned here.

    Same single-scan array-pair construction as
    ``orders_weekly_mann_kendall``: the weekly rollup is the only
    fact shuffle, and the O(weeks^2) pair census runs inside one
    task over a calendar-bounded array. Int64 bound (r13 overflow
    audit): dx,dy are signs, so |tau_num| <= n_pairs ~ weeks^2/2 —
    calendar-bounded (~350 weeks in TPC-H, ~6e4 pairs) independent
    of sf."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.expr(f"datediff(o_orderdate, DATE'{EPOCH}') div 7").alias("week_idx")
    ).agg(
        F.count("*").alias("n_orders"),
        F.expr(f"SUM({_CENTS})").alias("rev_cents"),
    )
    pair = (
        "named_struct("
        "'dx', CASE WHEN y.n_orders > x.n_orders THEN 1 "
        "WHEN y.n_orders < x.n_orders THEN -1 ELSE 0 END, "
        "'dy', CASE WHEN y.rev_cents > x.rev_cents THEN 1 "
        "WHEN y.rev_cents < x.rev_cents THEN -1 ELSE 0 END)"
    )
    arr = weekly.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("week_idx", "n_orders", "rev_cents"))
        ).alias("wk")
    )
    return (
        arr.select(
            F.expr("CAST(size(wk) AS BIGINT)").alias("n_weeks"),
            F.expr(_pairs_expr("wk", pair)).alias("p"),
        )
        .select(
            "n_weeks",
            F.expr("CAST(size(p) AS BIGINT)").alias("n_pairs"),
            F.expr(
                "CAST(size(filter(p, v -> v.dx * v.dy = 1)) AS BIGINT)"
            ).alias("concordant"),
            F.expr(
                "CAST(size(filter(p, v -> v.dx * v.dy = -1)) AS BIGINT)"
            ).alias("discordant"),
            F.expr(
                "CAST(size(filter(p, v -> v.dx = 0 AND v.dy <> 0)) AS BIGINT)"
            ).alias("ties_x"),
            F.expr(
                "CAST(size(filter(p, v -> v.dx <> 0 AND v.dy = 0)) AS BIGINT)"
            ).alias("ties_y"),
            F.expr(
                "CAST(size(filter(p, v -> v.dx = 0 AND v.dy = 0)) AS BIGINT)"
            ).alias("ties_both"),
            F.expr(
                "CAST(aggregate(p, 0L, (acc, v) -> acc + v.dx * v.dy)"
                " AS BIGINT)"
            ).alias("tau_num"),
        )
        .filter(F.col("n_pairs") > 0)
        .withColumn(
            "tau_a",
            F.col("tau_num").cast("double") / F.col("n_pairs").cast("double"),
        )
    )


# --- banded two-sample Kolmogorov-Smirnov -----------------------------

KS_SEG_A = "BUILDING"
KS_SEG_B = "MACHINERY"
KS_BAND_CENTS = 500_000  # $5,000 price bands

_KS_ORACLE = f"""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, {_CENTS} // {KS_BAND_CENTS} AS band
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')
    ), per_band AS (
      SELECT band,
             CAST(SUM(CASE WHEN seg = '{KS_SEG_A}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN seg = '{KS_SEG_B}' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b
      FROM j GROUP BY 1
    ), cdf AS (
      SELECT band, n_a, n_b,
             CAST(SUM(n_a) OVER (ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
             CAST(SUM(n_b) OVER (ORDER BY band
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b,
             CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
             CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b
      FROM per_band
    ), gaps AS (
      SELECT band, n_a, n_b, cum_a, cum_b,
             CAST(cum_a AS DOUBLE) / CAST(tot_a AS DOUBLE)
               - CAST(cum_b AS DOUBLE) / CAST(tot_b AS DOUBLE) AS cdf_gap
      FROM cdf WHERE tot_a > 0 AND tot_b > 0
    )
    SELECT band, CAST(band * {KS_BAND_CENTS} AS BIGINT) AS band_lo_cents,
           n_a, n_b, cum_a, cum_b, cdf_gap,
           MAX(ABS(cdf_gap)) OVER () AS ks_d
    FROM gaps ORDER BY band
    """


@query("segment_price_ks_distance", oracle=_KS_ORACLE)
def segment_price_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded two-sample Kolmogorov-Smirnov distance between the
    order-value distributions of two customer segments — the drift
    screen run when a segment's spend profile may have shifted. Values
    are discretized into fixed $5,000 bands FIRST (the statistic is
    exact on the banded distribution and the spine is bounded by the
    price domain, ~120 bands, not by row count); per band the exact
    empirical-CDF gap is one cast-first double over exact BIGINT
    cumulative counts (each division correctly rounded, so both
    engines agree bit-for-bit — no integer cross-products, hence no
    overflow at any SF). ``ks_d`` = max |gap| is constant across rows.

    Scale: customer projects two columns and filters to two segments
    before the join; the banded rollup is the only fact shuffle; the
    unpartitioned CDF windows run over the bounded band spine."""
    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
        .select("c_custkey", "c_mktsegment")
    )
    j = orders.join(cust, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(f"{_CENTS} div {KS_BAND_CENTS}").alias("band"),
    )
    per_band = j.groupBy("band").agg(
        F.sum(F.when(F.col("seg") == KS_SEG_A, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("seg") == KS_SEG_B, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    w_cum = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = per_band.select(
        "band",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_cum).cast("long").alias("cum_a"),
        F.sum("n_b").over(w_cum).cast("long").alias("cum_b"),
        F.sum("n_a").over(w_all).cast("long").alias("tot_a"),
        F.sum("n_b").over(w_all).cast("long").alias("tot_b"),
    )
    gaps = cdf.filter((F.col("tot_a") > 0) & (F.col("tot_b") > 0)).select(
        "band",
        "n_a",
        "n_b",
        "cum_a",
        "cum_b",
        (
            F.col("cum_a").cast("double") / F.col("tot_a").cast("double")
            - F.col("cum_b").cast("double") / F.col("tot_b").cast("double")
        ).alias("cdf_gap"),
    )
    return gaps.select(
        "band",
        (F.col("band") * KS_BAND_CENTS).cast("long").alias("band_lo_cents"),
        "n_a",
        "n_b",
        "cum_a",
        "cum_b",
        "cdf_gap",
        F.max(F.abs(F.col("cdf_gap"))).over(w_all).alias("ks_d"),
    ).orderBy("band")


# --- Mann-Whitney U / ROC-AUC over a dense value domain ---------------

MWU_FLAGS = ("A", "N", "R")  # l_returnflag domain (TPC-H fixed)

_MWU_ORACLE = """
    WITH counts AS (
      SELECT CAST(l_quantity AS INTEGER) AS qty,
             CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS c_r
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT qty, c_a, c_n, c_r,
             COALESCE(SUM(c_a) OVER w, 0) AS lt_a,
             COALESCE(SUM(c_n) OVER w, 0) AS lt_n,
             COALESCE(SUM(c_r) OVER w, 0) AS lt_r
      FROM counts
      WINDOW w AS (ORDER BY qty
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), u AS (
      SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_n) AS BIGINT) AS n_n,
             CAST(SUM(c_r) AS BIGINT) AS n_r,
             SUM(CAST(c_a AS HUGEINT) * (2 * lt_n + c_n)) AS u_an,
             SUM(CAST(c_a AS HUGEINT) * (2 * lt_r + c_r)) AS u_ar,
             SUM(CAST(c_n AS HUGEINT) * (2 * lt_r + c_r)) AS u_nr
      FROM cum
    )
    SELECT * FROM (
      SELECT 'A' AS flag_a, 'N' AS flag_b, n_a, n_n AS n_b,
             CAST(u_an AS DOUBLE) AS u1_x2,
             CAST(u_an AS DOUBLE)
               / (CAST(2 AS DOUBLE) * CAST(n_a AS DOUBLE)
                  * CAST(n_n AS DOUBLE)) AS auc
      FROM u WHERE n_a > 0 AND n_n > 0
      UNION ALL
      SELECT 'A', 'R', n_a, n_r,
             CAST(u_ar AS DOUBLE),
             CAST(u_ar AS DOUBLE)
               / (CAST(2 AS DOUBLE) * CAST(n_a AS DOUBLE)
                  * CAST(n_r AS DOUBLE))
      FROM u WHERE n_a > 0 AND n_r > 0
      UNION ALL
      SELECT 'N', 'R', n_n, n_r,
             CAST(u_nr AS DOUBLE),
             CAST(u_nr AS DOUBLE)
               / (CAST(2 AS DOUBLE) * CAST(n_n AS DOUBLE)
                  * CAST(n_r AS DOUBLE))
      FROM u WHERE n_n > 0 AND n_r > 0
    ) ORDER BY flag_a, flag_b
    """


@query("returnflag_quantity_mwu", oracle=_MWU_ORACLE)
def returnflag_quantity_mwu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U between each pair of return-flag populations on
    the quantity distribution, computed exactly from per-VALUE counts
    (l_quantity's dense 1..50 domain) — never from per-row ranks, so
    no global sort of facts ever happens. ``u1_x2`` is 2*U1 (doubled
    to keep the half-credit for ties integral); ``auc`` = U1/(n_a*n_b)
    is the common-language effect size / ROC-AUC, one cast-first
    double over the exact accumulators.

    Exactness: U accumulates c_a*(2*cum_lt_b + c_b) in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — the ge2 pattern, exact past any real
    SF (2*n_a*n_b overflows int64 around 2e9 rows/flag ~ sf1000) —
    and crosses the boundary only as a double.

    Scale: ONE fact shuffle (the 50-row value census, map-side
    combined); windows and pair sums run over the 50-row domain
    spine in a single task."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        F.col("l_quantity").cast("int").alias("qty")
    ).agg(
        *[
            F.sum(F.when(F.col("l_returnflag") == f, 1).otherwise(0))
            .cast("long")
            .alias(f"c_{f.lower()}")
            for f in MWU_FLAGS
        ]
    )
    w_lt = Window.orderBy("qty").rowsBetween(Window.unboundedPreceding, -1)
    cum = counts.select(
        "qty",
        *[F.col(f"c_{f.lower()}") for f in MWU_FLAGS],
        *[
            F.coalesce(F.sum(f"c_{f.lower()}").over(w_lt), F.lit(0))
            .cast("long")
            .alias(f"lt_{f.lower()}")
            for f in MWU_FLAGS
        ],
    )
    u = cum.agg(
        *[
            F.sum(f"c_{f.lower()}").cast("long").alias(f"n_{f.lower()}")
            for f in MWU_FLAGS
        ],
        *[
            F.sum(
                F.expr(
                    f"CAST(c_{a} AS DECIMAL(19,0)) * (2 * lt_{b} + c_{b})"
                )
            )
            .cast("decimal(38,0)")
            .alias(f"u_{a}{b}")
            for a, b in (("a", "n"), ("a", "r"), ("n", "r"))
        ],
    )
    # explode the 3 pair rows out of the ONE aggregated row — a UNION
    # of per-pair selects re-derives the whole census per branch
    # (3 lineitem scans; the scan-count probe caught it)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(fa.upper()).alias("flag_a"),
                F.lit(fb.upper()).alias("flag_b"),
                F.col(f"n_{fa}").alias("n_a"),
                F.col(f"n_{fb}").alias("n_b"),
                F.col(f"u_{fa}{fb}").cast("double").alias("u1_x2"),
            )
            for fa, fb in (("a", "n"), ("a", "r"), ("n", "r"))
        ]
    )
    return (
        u.select(F.explode(pair_structs).alias("r"))
        .select("r.*")
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .withColumn(
            "auc",
            F.col("u1_x2")
            / (
                F.lit(2.0)
                * F.col("n_a").cast("double")
                * F.col("n_b").cast("double")
            ),
        )
        .orderBy("flag_a", "flag_b")
    )


# --- Wald-Wolfowitz runs test on daily revenue ------------------------

_RUNS_ORACLE = f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE))
               AS day_idx,
             SUM({_CENTS}) AS rev_cents
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT day_idx, rev_cents,
             ROW_NUMBER() OVER (ORDER BY rev_cents, day_idx) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ), med AS (
      SELECT day_idx, rev_cents, n,
             MAX(CASE WHEN rn <= (n + 1) // 2 THEN rev_cents END) OVER ()
               AS median_cents
      FROM ranked
    ), signs AS (
      SELECT day_idx, n, median_cents,
             CASE WHEN rev_cents > median_cents THEN 1 ELSE 0 END AS above
      FROM med
    ), runs AS (
      SELECT n, median_cents, above,
             CASE WHEN LAG(above) OVER (ORDER BY day_idx) IS NULL
                       OR LAG(above) OVER (ORDER BY day_idx) <> above
                  THEN 1 ELSE 0 END AS run_start
      FROM signs
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(MAX(median_cents) AS BIGINT) AS median_cents,
           CAST(SUM(above) AS BIGINT) AS n_above,
           CAST(MAX(n) - SUM(above) AS BIGINT) AS n_below,
           CAST(SUM(run_start) AS BIGINT) AS n_runs,
           CAST(1 AS DOUBLE)
             + (CAST(2 AS DOUBLE) * CAST(SUM(above) AS DOUBLE)
                * CAST(MAX(n) - SUM(above) AS DOUBLE))
               / CAST(MAX(n) AS DOUBLE) AS expected_runs
    FROM runs HAVING MAX(n) > 0
    """


@query("orders_daily_runs_test", oracle=_RUNS_ORACLE)
def orders_daily_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its median: the
    randomness screen that catches regime shifts and oscillation a
    mean-level monitor misses (too FEW runs = persistent drift, too
    MANY = alternation). The median is the exact lower median in
    cents (deterministic tie-break on day), ``n_runs`` counts maximal
    same-side stretches of strictly-above vs at-or-below days, and
    ``expected_runs`` = 1 + 2ab/n is the null expectation as one
    cast-first double (the variance/z is the caller's sqrt step).

    Scale: the daily rollup is the only fact shuffle; every window
    after it runs over the calendar-bounded O(2.5k-day) spine in a
    single task."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(f"datediff(o_orderdate, DATE'{EPOCH}')").alias("day_idx")
    ).agg(F.expr(f"SUM({_CENTS})").alias("rev_cents"))
    w_rank = Window.orderBy("rev_cents", "day_idx")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = daily.select(
        "day_idx",
        "rev_cents",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    med = ranked.select(
        "day_idx",
        "rev_cents",
        "n",
        F.max(
            F.when(
                F.col("rn") <= F.expr("(n + 1) div 2"), F.col("rev_cents")
            )
        )
        .over(w_all)
        .alias("median_cents"),
    )
    signs = med.select(
        "day_idx",
        "n",
        "median_cents",
        F.when(F.col("rev_cents") > F.col("median_cents"), 1)
        .otherwise(0)
        .alias("above"),
    )
    lag_above = F.lag("above").over(Window.orderBy("day_idx"))
    runs = signs.select(
        "n",
        "median_cents",
        "above",
        F.when(
            lag_above.isNull() | (lag_above != F.col("above")), 1
        )
        .otherwise(0)
        .alias("run_start"),
    )
    out = runs.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("median_cents").cast("long").alias("median_cents"),
        F.sum("above").cast("long").alias("n_above"),
        (F.max("n") - F.sum("above")).cast("long").alias("n_below"),
        F.sum("run_start").cast("long").alias("n_runs"),
    )
    return out.filter(F.col("n_days") > 0).withColumn(
        "expected_runs",
        F.lit(1.0)
        + (
            F.lit(2.0)
            * F.col("n_above").cast("double")
            * F.col("n_below").cast("double")
        )
        / F.col("n_days").cast("double"),
    )


# --- CMS self-join cardinality estimate -------------------------------

SJ_CMS_WIDTH = 256
SJ_CMS_DEPTH = 4


def _sj_exact_typed(dialect: str) -> str:
    # d fits int64 everywhere; the SQUARES need 128-bit headroom
    return (
        "CAST(d AS DECIMAL(19,0)) * d"
        if dialect == SPARK
        else "CAST(d AS HUGEINT) * d"
    )


def _sj_mass_sq(dialect: str) -> str:
    return (
        "CAST(mass AS DECIMAL(19,0)) * mass"
        if dialect == SPARK
        else "CAST(mass AS HUGEINT) * mass"
    )


@query(
    "partkey_selfjoin_cms_estimate",
    oracle=f"""
    WITH deg AS (
      SELECT CAST(l_partkey AS VARCHAR) AS pk,
             CAST(COUNT(*) AS BIGINT) AS d
      FROM lineitem GROUP BY 1
    ), expanded AS (
      {" UNION ALL ".join(
        f"SELECT {i} AS depth, "
        f"({salted_md5h(i, 'pk', DUCK)}) % {SJ_CMS_WIDTH} AS cell, d "
        f"FROM deg"
        for i in range(SJ_CMS_DEPTH)
      )}
    ), cells AS (
      SELECT depth, cell, CAST(SUM(d) AS BIGINT) AS mass,
             SUM({_sj_exact_typed(DUCK)}) AS ss
      FROM expanded GROUP BY 1, 2
    ), per_depth AS (
      SELECT depth, SUM({_sj_mass_sq(DUCK)}) AS est, SUM(ss) AS exact_p
      FROM cells GROUP BY 1
    )
    SELECT CAST({SJ_CMS_WIDTH} AS INTEGER) AS cms_width,
           CAST({SJ_CMS_DEPTH} AS INTEGER) AS cms_depth,
           CAST(MAX(exact_p) AS DOUBLE) AS exact_pairs,
           CAST(MIN(est) AS DOUBLE) AS cms_estimate,
           CAST(MIN(est) AS DOUBLE) / CAST(MAX(exact_p) AS DOUBLE)
             AS overcount_ratio
    FROM per_depth HAVING COUNT(*) > 0
    """,
)
def partkey_selfjoin_cms_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-join cardinality estimation with a count-min sketch — the
    optimizer's classic sketch application (Alon-Matias-Szegedy F2 /
    Cormode-Muthukrishnan inner product): |lineitem JOIN lineitem ON
    l_partkey| equals sum(deg^2); the CMS estimate is min over rows of
    sum over cells of mass^2, never below the exact answer. The audit
    lays the two side by side, ``overcount_ratio >= 1`` always.

    Both the exact sum of squares and the estimate are built FROM the
    exact per-key degree rollup (associative, identical to sketching
    raw rows); cells carry ss = sum(d^2) alongside mass, so the exact
    answer falls out of the SAME single pipeline — one fact scan, no
    second pass. Every per-depth ss sum telescopes to the identical
    sum(deg^2), so max = min = the exact count. Squares accumulate in
    DECIMAL(38,0)/HUGEINT (exact past any SF; mass^2 alone overflows
    int64 around sf500) and cross the output boundary as cast-first
    doubles.

    Scale: the degree rollup is the only fact shuffle; the exploded
    (depth, cell) table is 4 rows per DISTINCT part key, reduced
    map-side to the 4x256 cell grid."""
    li = load_table(spark, sf_dir, "lineitem")
    deg = li.groupBy(
        F.col("l_partkey").cast("string").alias("pk")
    ).agg(F.count("*").cast("long").alias("d"))
    cells_in = deg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        (
                            F.expr(salted_md5h(i, "pk", SPARK))
                            % SJ_CMS_WIDTH
                        ).alias("cell"),
                    )
                    for i in range(SJ_CMS_DEPTH)
                ]
            )
        ).alias("dc"),
        "d",
    ).select("dc.depth", "dc.cell", "d")
    cells = cells_in.groupBy("depth", "cell").agg(
        F.sum("d").cast("long").alias("mass"),
        F.sum(F.expr(_sj_exact_typed(SPARK))).cast("decimal(38,0)").alias(
            "ss"
        ),
    )
    per_depth = cells.groupBy("depth").agg(
        F.sum(F.expr(_sj_mass_sq(SPARK))).cast("decimal(38,0)").alias("est"),
        F.sum("ss").cast("decimal(38,0)").alias("exact_p"),
    )
    out = per_depth.agg(
        F.count("*").alias("n_rows"),
        F.max("exact_p").cast("double").alias("exact_pairs"),
        F.min("est").cast("double").alias("cms_estimate"),
    )
    return out.filter(F.col("n_rows") > 0).select(
        F.lit(SJ_CMS_WIDTH).cast("int").alias("cms_width"),
        F.lit(SJ_CMS_DEPTH).cast("int").alias("cms_depth"),
        "exact_pairs",
        "cms_estimate",
        (F.col("cms_estimate") / F.col("exact_pairs")).alias(
            "overcount_ratio"
        ),
    )


# --- record-drawdown days on daily revenue ----------------------------

_DRAWDOWN_ORACLE = f"""
    WITH daily AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
             CAST(SUM({_CENTS}) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ), peaks AS (
      SELECT day, rev_cents,
             MAX(rev_cents) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
               AS run_peak_cents
      FROM daily
    ), dd AS (
      SELECT day, rev_cents, run_peak_cents,
             run_peak_cents - rev_cents AS drawdown_cents
      FROM peaks
    ), rec AS (
      SELECT day, rev_cents, run_peak_cents, drawdown_cents,
             COALESCE(MAX(drawdown_cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prior_max
      FROM dd
    )
    SELECT day, rev_cents, run_peak_cents, drawdown_cents,
           CAST(drawdown_cents AS DOUBLE)
             / CAST(run_peak_cents AS DOUBLE) AS drawdown_share
    FROM rec
    WHERE drawdown_cents > 0 AND drawdown_cents > prior_max
    ORDER BY day
    """


@query("orders_daily_drawdown_records", oracle=_DRAWDOWN_ORACLE)
def orders_daily_drawdown_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-drawdown days: each day on which daily revenue sets a NEW
    deepest drop below its historical peak (running max), with the
    peak it fell from and the exact-integer depth — the
    demand-collapse detector a level-threshold monitor misses (a
    'bad' absolute day after a high peak is worse news than the same
    number in week one). Emitting only RECORD days keeps the output a
    short episode log instead of a full series dump; the share is one
    cast-first double over exact cents.

    Scale: daily rollup is the only fact shuffle; the running-peak
    and prior-record windows run over the calendar-bounded
    O(2.5k-day) spine in a single task."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.expr(f"SUM({_CENTS})").alias("rev_cents"))
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_prior = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    peaks = daily.withColumn(
        "run_peak_cents", F.max("rev_cents").over(w_run)
    ).withColumn(
        "drawdown_cents", F.col("run_peak_cents") - F.col("rev_cents")
    )
    rec = peaks.withColumn(
        "prior_max",
        F.coalesce(F.max("drawdown_cents").over(w_prior), F.lit(0)),
    )
    return (
        rec.filter(
            (F.col("drawdown_cents") > 0)
            & (F.col("drawdown_cents") > F.col("prior_max"))
        )
        .select(
            "day",
            "rev_cents",
            "run_peak_cents",
            "drawdown_cents",
            (
                F.col("drawdown_cents").cast("double")
                / F.col("run_peak_cents").cast("double")
            ).alias("drawdown_share"),
        )
        .orderBy("day")
    )


# --- Theil-Sen robust trend -------------------------------------------

_TS_SLOPE = (
    "CAST(y.rev_cents - x.rev_cents AS DOUBLE) / (y.week_idx - x.week_idx)"
)

_TS_ORACLE = f"""
    WITH weekly AS (
      SELECT o_orderpriority AS priority,
             date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) // 7
               AS week_idx,
             SUM({_CENTS}) AS rev_cents
      FROM orders GROUP BY 1, 2
    ), slopes AS (
      SELECT x.priority,
             CAST(y.rev_cents - x.rev_cents AS DOUBLE)
               / (y.week_idx - x.week_idx) AS slope
      FROM weekly x JOIN weekly y
        ON x.priority = y.priority AND x.week_idx < y.week_idx
    ), med AS (
      SELECT priority, CAST(n AS BIGINT) AS n_slopes, slope
      FROM (
        SELECT priority, slope,
               ROW_NUMBER() OVER (PARTITION BY priority ORDER BY slope)
                 AS rn,
               COUNT(*) OVER (PARTITION BY priority) AS n
        FROM slopes
      ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    ), resid AS (
      SELECT w.priority, m.n_slopes, m.slope,
             CAST(w.rev_cents AS DOUBLE) - m.slope * w.week_idx AS r,
             ROW_NUMBER() OVER (
               PARTITION BY w.priority
               ORDER BY CAST(w.rev_cents AS DOUBLE) - m.slope * w.week_idx
             ) AS rn,
             COUNT(*) OVER (PARTITION BY w.priority) AS n_weeks
      FROM weekly w JOIN med m ON w.priority = m.priority
    )
    SELECT priority, CAST(n_weeks AS BIGINT) AS n_weeks, n_slopes,
           slope AS slope_cents_per_week, r AS intercept_cents
    FROM resid
    WHERE rn = CAST(floor((n_weeks + 1) / 2) AS BIGINT)
    ORDER BY priority
    """


@query("orders_weekly_theilsen_trend", oracle=_TS_ORACLE)
def orders_weekly_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend on weekly revenue per order priority:
    the LOWER MEDIAN of all pairwise slopes (rev_j-rev_i)/(j-i), with
    the matching median-residual intercept — the breakdown-resistant
    complement to ``orders_daily_ols_trend`` (one corrupted week moves
    OLS arbitrarily; Theil-Sen tolerates ~29% contamination). Each
    slope is ONE division of exact integers and the medians are exact
    rank-picks over identically-computed doubles, so both engines
    agree bit-for-bit; picking the VALUE at the median rank is
    well-defined even among duplicate slopes.

    The slope census runs as the oracle's own self-join + rank-pick
    shape: the r13 form built the O(weeks²) pairs inside nested
    higher-order array lambdas, which Spark evaluates INTERPRETED
    (outside whole-stage codegen — the simhash lesson) and inside ONE
    task per priority; the join form is codegen'd end to end, spreads
    the ~341 k slope rows across cores, and is bounded by the same
    CALENDAR² — never fact volume (r14 A/B: min 1.87 -> 1.35 s,
    values identical)."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(f"datediff(o_orderdate, DATE'{EPOCH}') div 7").alias("week_idx"),
    ).agg(F.expr(f"SUM({_CENTS})").alias("rev_cents"))
    x = weekly.alias("x")
    y = weekly.alias("y")
    slope = F.expr(_TS_SLOPE)
    slopes = x.join(
        y,
        (F.col("x.priority") == F.col("y.priority"))
        & (F.col("x.week_idx") < F.col("y.week_idx")),
    ).select(F.col("x.priority").alias("priority"), slope.alias("slope"))
    wrk = Window.partitionBy("priority").orderBy("slope")
    wn = Window.partitionBy("priority")
    med = (
        slopes.select(
            "priority",
            "slope",
            F.row_number().over(wrk).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("int"))
        .select(
            "priority",
            F.col("n").cast("bigint").alias("n_slopes"),
            F.col("slope").alias("slope_cents_per_week"),
        )
    )
    r_expr = F.col("rev_cents").cast("double") - F.col(
        "slope_cents_per_week"
    ) * F.col("week_idx")
    wr2 = Window.partitionBy("priority").orderBy("r")
    return (
        weekly.join(F.broadcast(med), "priority")
        .select(
            "priority",
            "n_slopes",
            "slope_cents_per_week",
            r_expr.alias("r"),
        )
        .select(
            "priority",
            "n_slopes",
            "slope_cents_per_week",
            "r",
            F.row_number().over(wr2).alias("rn"),
            F.count("*").over(wn).alias("n_weeks"),
        )
        .where(F.col("rn") == F.floor((F.col("n_weeks") + 1) / 2).cast("int"))
        .select(
            "priority",
            F.col("n_weeks").cast("bigint").alias("n_weeks"),
            "n_slopes",
            "slope_cents_per_week",
            F.col("r").alias("intercept_cents"),
        )
        .orderBy("priority")
    )


# --- MAD robust anomaly screen ----------------------------------------

MAD_K = 5  # flag days with |x - median| > MAD_K * MAD
MAD_TOP = 50

_MAD_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
             CAST(SUM({_CENTS}) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ), med AS (
      SELECT rev_cents AS med_cents FROM (
        SELECT rev_cents,
               ROW_NUMBER() OVER (ORDER BY rev_cents, day) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
      ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    ), dev AS (
      SELECT day, rev_cents, med_cents,
             abs(rev_cents - med_cents) AS deviation_cents
      FROM daily CROSS JOIN med
    ), mad AS (
      SELECT deviation_cents AS mad_cents FROM (
        SELECT deviation_cents,
               ROW_NUMBER() OVER (ORDER BY deviation_cents, day) AS rn,
               COUNT(*) OVER () AS n
        FROM dev
      ) WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)
    )
    SELECT day, rev_cents, CAST(med_cents AS BIGINT) AS med_cents,
           CAST(mad_cents AS BIGINT) AS mad_cents,
           CAST(deviation_cents AS BIGINT) AS deviation_cents
    FROM dev CROSS JOIN mad
    WHERE deviation_cents > {MAD_K} * mad_cents
    ORDER BY deviation_cents DESC, day LIMIT {MAD_TOP}
    """


@query("orders_daily_mad_anomalies", oracle=_MAD_ORACLE)
def orders_daily_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly screen on daily revenue: days whose absolute
    deviation from the median exceeds {MAD_K}x the median absolute
    deviation — the outlier detector whose THRESHOLD ITSELF cannot be
    dragged by the outliers it hunts (mean/stddev z-scores famously
    can; cf. ``event_value_outliers``). Both medians are exact
    rank-picks (lower median, ties by day) and the flag compare is
    all-integer cents, so the screen is bit-identical across engines.

    Scale: the daily rollup is the only fact shuffle
    (map-side-combined sums into the O(~2.4k-day) calendar frame,
    cached once); medians rank over that bounded frame, the two scalar
    attaches broadcast 1-row frames, and the output is a {MAD_TOP}-row
    TakeOrdered."""
    orders = load_table(spark, sf_dir, "orders")
    # session_cached: the median branch and the deviation scan both
    # read it (otherwise the fact aggregation plans twice); O(|days|)
    daily = session_cached(
        spark,
        frame_memo_tag(sf_dir, "mad_daily"),
        lambda: orders.groupBy(
            F.col("o_orderdate").cast("date").cast("string").alias("day")
        )
        .agg(F.expr(f"SUM({_CENTS})").cast("bigint").alias("rev_cents"))
        .coalesce(1),
    )
    w_med = Window.orderBy("rev_cents", "day")
    med = (
        daily.withColumn("rn", F.row_number().over(w_med))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("rev_cents").alias("med_cents"))
    )
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day",
        "rev_cents",
        "med_cents",
        F.abs(F.col("rev_cents") - F.col("med_cents")).alias(
            "deviation_cents"
        ),
    )
    w_mad = Window.orderBy("deviation_cents", "day")
    mad = (
        dev.withColumn("rn", F.row_number().over(w_mad))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select(F.col("deviation_cents").alias("mad_cents"))
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .where(F.col("deviation_cents") > MAD_K * F.col("mad_cents"))
        .select(
            "day",
            "rev_cents",
            F.col("med_cents").cast("bigint").alias("med_cents"),
            F.col("mad_cents").cast("bigint").alias("mad_cents"),
            F.col("deviation_cents").cast("bigint").alias("deviation_cents"),
        )
        .orderBy(F.col("deviation_cents").desc(), "day")
        .limit(MAD_TOP)
    )


orders_daily_mad_anomalies.__doc__ = (
    orders_daily_mad_anomalies.__doc__ or ""
).replace("{MAD_K}", str(MAD_K)).replace("{MAD_TOP}", str(MAD_TOP))


# --- exact group quantiles via value-domain histograms ------------------

_LAT_EXPR_DUCK = (
    "CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 86400) AS BIGINT)"
)

_P_BY_NATION_ORACLE = f"""
    WITH lat AS (
      SELECT n_name AS nation, {_LAT_EXPR_DUCK} AS d
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
    ), hist AS (
      SELECT nation, d, CAST(count(*) AS BIGINT) AS cnt
      FROM lat GROUP BY 1, 2
    ), cum AS (
      SELECT nation, d, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY nation ORDER BY d) AS BIGINT)
               AS c,
             CAST(SUM(cnt) OVER (PARTITION BY nation) AS BIGINT) AS n
      FROM hist
    )
    SELECT nation, CAST(max(n) AS BIGINT) AS n_lineitems,
           CAST(min(CASE WHEN c >= (50 * n + 99) // 100 THEN d END)
                AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN c >= (95 * n + 99) // 100 THEN d END)
                AS BIGINT) AS p95_days,
           CAST(min(CASE WHEN c >= (99 * n + 99) // 100 THEN d END)
                AS BIGINT) AS p99_days
    FROM cum GROUP BY nation ORDER BY nation
    """


@query("ship_latency_percentiles_by_nation", oracle=_P_BY_NATION_ORACLE)
def ship_latency_percentiles_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact p50/p95/p99 order-to-ship latency per customer nation —
    the SLA report — computed the scale-correct way: NEVER a per-group
    sort of raw rows. The latency VALUE DOMAIN is calendar-bounded, so
    each group's distribution collapses to a (nation, days) histogram
    (one map-side-combined fact shuffle), the CDF is a window over
    that bounded frame, and each percentile is a nearest-rank
    inverse-CDF pick (min value whose cum count reaches ceil(q·n) —
    exact integers end to end, no interpolation, engine-identical).
    Complements ``events_approx_quantiles`` (the sketch audit) with
    the exact path, and applies the ``docs_quantile_norm_by_lang``
    histogram trick to plain group quantiles.

    Scale: shuffle volume is O(nations x distinct day values), not
    rows; the windows run over that bounded frame; percentile picks
    are conditional MINs inside one aggregate — adding p999 costs one
    more column, not another pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    d = F.floor(
        (F.col("l_shipdate").cast("long") - F.col("o_orderdate").cast("long"))
        / 86400
    ).cast("bigint")
    lat = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), d.alias("d"))
    )
    hist = lat.groupBy("nation", "d").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    wc = Window.partitionBy("nation").orderBy("d")
    cum = hist.select(
        "nation",
        "d",
        F.sum("cnt").over(wc).cast("bigint").alias("c"),
        F.sum("cnt").over(Window.partitionBy("nation")).cast("bigint").alias("n"),
    )

    def pick(q: int):
        idx = F.expr(f"({q} * n + 99) div 100")
        return (
            F.min(F.when(F.col("c") >= idx, F.col("d")))
            .cast("bigint")
            .alias(f"p{q}_days")
        )

    return (
        cum.groupBy("nation")
        .agg(
            F.max("n").cast("bigint").alias("n_lineitems"),
            pick(50),
            pick(95),
            pick(99),
        )
        .orderBy("nation")
    )


# --- discrete-time purchase hazard curve --------------------------------

HAZARD_MAX_GAP = 120  # report the curve out to this many days

_HAZARD_ORACLE = f"""
    WITH gaps AS (
      SELECT CAST(floor((epoch(o_orderdate) - epoch(lag(o_orderdate) OVER w))
                        / 86400) AS BIGINT) AS g
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), hist AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n FROM gaps
      WHERE g IS NOT NULL GROUP BY 1
    ), risk AS (
      SELECT g, n,
             CAST(SUM(n) OVER (ORDER BY g DESC) AS BIGINT) AS n_at_risk
      FROM hist
    )
    SELECT g AS gap_days, n AS n_events, n_at_risk,
           CAST(n AS DOUBLE) / n_at_risk AS hazard
    FROM risk WHERE g <= {HAZARD_MAX_GAP}
    ORDER BY gap_days
    """


@query("customer_repurchase_hazard", oracle=_HAZARD_ORACLE)
def customer_repurchase_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis of repurchase: for each
    inter-order gap length g, the hazard h(g) = P(next order arrives
    at exactly g days | it has not arrived before g) — events at g
    over the at-risk set (everyone whose gap is >= g, a DESCENDING
    cumulative sum over the gap histogram). The churn model's
    lifetable, and the principled version of "customers usually
    reorder within N days"; reported out to {HAZARD_MAX_GAP} days.
    All counts are exact integers; the hazard is the one boundary
    division.

    Scale: the consecutive-order lag shuffles orders once on
    ``o_custkey`` (the same exchange every cohort/gap query reuses);
    gaps then collapse to the calendar-bounded gap histogram, and the
    at-risk suffix sum windows over that bounded frame — row volume
    never reaches the survival arithmetic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = F.floor(
        (
            F.col("o_orderdate").cast("long")
            - F.lag("o_orderdate").over(w).cast("long")
        )
        / 86400
    ).cast("bigint")
    hist = (
        orders.select(g.alias("g"))
        .where(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wr = Window.orderBy(F.col("g").desc())
    return (
        hist.select(
            F.col("g").alias("gap_days"),
            F.col("n").alias("n_events"),
            F.sum("n").over(wr).cast("bigint").alias("n_at_risk"),
        )
        .where(F.col("gap_days") <= HAZARD_MAX_GAP)
        .withColumn(
            "hazard",
            F.col("n_events").cast("double") / F.col("n_at_risk"),
        )
        .orderBy("gap_days")
    )


customer_repurchase_hazard.__doc__ = (
    customer_repurchase_hazard.__doc__ or ""
).replace("{HAZARD_MAX_GAP}", str(HAZARD_MAX_GAP))


# --- isotonic regression (weighted, minimax form) ------------------------

_ISO_ORACLE = f"""
    WITH wk AS (
      SELECT date_diff('day', DATE '{EPOCH}', CAST(o_orderdate AS DATE)) // 7
               AS week_idx,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(SUM({_CENTS}) AS DECIMAL(38,0)) AS rev_cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT week_idx, n_orders, rev_cents,
             CAST(row_number() OVER (ORDER BY week_idx) AS BIGINT) AS i,
             CAST(SUM(rev_cents) OVER (ORDER BY week_idx) AS DECIMAL(38,0))
               AS s,
             CAST(SUM(n_orders) OVER (ORDER BY week_idx) AS BIGINT) AS c
      FROM wk
    ), pairs AS (
      SELECT j.i AS ji, k.i AS ki,
             CAST(k.s - (j.s - j.rev_cents) AS DOUBLE)
               / CAST(k.c - (j.c - j.n_orders) AS DOUBLE) AS m
      FROM idx j JOIN idx k ON j.i <= k.i
    ), rm AS (
      SELECT ji, ki, min(m) OVER (PARTITION BY ji ORDER BY ki DESC) AS rm
      FROM pairs
    ), fit AS (
      SELECT ki, max(rm) AS iso_fit_cents FROM rm GROUP BY ki
    )
    SELECT idx.week_idx, idx.n_orders,
           CAST(idx.rev_cents AS DOUBLE) / CAST(idx.n_orders AS DOUBLE)
             AS week_avg_cents,
           fit.iso_fit_cents
    FROM idx JOIN fit ON idx.i = fit.ki
    ORDER BY idx.week_idx
    """


@query("orders_weekly_isotonic_fit", oracle=_ISO_ORACLE)
def orders_weekly_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of weekly average order value over
    time — the best NON-DECREASING step function under weighted least
    squares, computed through the closed minimax identity
    fit_i = max_(j<=i) min_(k>=i) mean(y_j..y_k) (Ayer et al. 1955;
    Robertson-Wright-Dykstra 1988 §1.2) rather than the sequential PAVA
    stack, which is inherently serial and engine-divergent. Completes
    the trend family: Mann-Kendall TESTS for monotone trend, Theil-Sen
    fits the robust LINE, and this fits the monotone STEP function —
    the shape calibration curves (score -> probability) use.

    Exactness: block means are (decimal-exact cents diff)/(bigint
    count diff) — one cast-first double division per pair; the min/max
    lattice over those doubles is order-independent, so both engines
    agree bit-for-bit. Prefix sums run in DECIMAL(38,0) (the ge2
    overflow rule).

    Scale: one fact shuffle (the weekly rollup, map-side combined);
    everything after runs on the calendar-bounded week spine — the
    pair lattice is O(weeks^2) <= ~350^2 rows at ANY data volume
    (exploded from ONE collected array — the module's week-pair idiom,
    no self-join), the suffix-min is a window over it, and the fit is
    one bounded groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    wk = orders.groupBy(
        F.expr(f"datediff(o_orderdate, DATE'{EPOCH}') div 7").alias("week_idx")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.expr(f"CAST(SUM({_CENTS}) AS DECIMAL(38,0))").alias("rev_cents"),
    )
    w = Window.orderBy("week_idx")
    idx = session_cached(
        spark,
        frame_memo_tag(sf_dir, "iso_weekly"),
        lambda: wk.select(
            "week_idx",
            "n_orders",
            "rev_cents",
            F.row_number().over(w).cast("bigint").alias("i"),
            F.sum("rev_cents").over(w).cast("decimal(38,0)").alias("s"),
            F.sum("n_orders").over(w).cast("bigint").alias("c"),
        ).coalesce(1),
    )
    # pair lattice built INSIDE one aggregated array (the module's
    # week-pair idiom): j<=k pairs explode from a single collected
    # row, so the week spine is never self-joined (no nested-loop
    # join anywhere in the plan).
    arr = idx.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "i",
                    F.col("s").alias("sk"),
                    F.col("c").alias("ck"),
                    (F.col("s") - F.col("rev_cents"))
                    .cast("decimal(38,0)")
                    .alias("s0"),
                    (F.col("c") - F.col("n_orders")).alias("c0"),
                )
            )
        ).alias("a")
    )
    pair_expr = (
        "flatten(transform(a, (x, i) -> "
        "transform(slice(a, i + 1, size(a) - i), y -> "
        "struct(x.i AS ji, y.i AS ki, "
        "CAST(CAST(y.sk - x.s0 AS DECIMAL(38,0)) AS DOUBLE)"
        " / CAST(y.ck - x.c0 AS DOUBLE) AS m))))"
    )
    pairs = arr.select(F.explode(F.expr(pair_expr)).alias("p")).select(
        "p.ji", "p.ki", "p.m"
    )
    wrm = Window.partitionBy("ji").orderBy(F.col("ki").desc())
    fit = (
        pairs.select("ji", "ki", F.min("m").over(wrm).alias("rm"))
        .groupBy("ki")
        .agg(F.max("rm").alias("iso_fit_cents"))
    )
    return (
        idx.join(fit, F.col("i") == F.col("ki"))
        .select(
            "week_idx",
            "n_orders",
            (
                F.col("rev_cents").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("week_avg_cents"),
            "iso_fit_cents",
        )
        .orderBy("week_idx")
    )


# --- split-conformal calibration bands ------------------------------------

CONF_LO = 5  # lower band percentile
CONF_HI = 95  # upper band percentile
CONF_SALT = 77  # calibration/eval split salt

_CONF_SPLIT = "({h} % 2 = 0)"

_CONF_ORACLE = f"""
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             {_CONF_SPLIT.format(h=salted_md5h(CONF_SALT, "CAST(event_id AS VARCHAR)", DUCK))}
               AS is_cal
      FROM events WHERE value IS NOT NULL
    ), hist AS (
      SELECT event_type, cents, CAST(count(*) AS BIGINT) AS cnt
      FROM base WHERE is_cal GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, cents,
             CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents)
               AS BIGINT) AS c,
             CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hist
    ), bands AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_cal,
             CAST(min(CASE WHEN c >= ({CONF_LO} * n + 99) // 100
                           THEN cents END) AS BIGINT) AS lo_cents,
             CAST(min(CASE WHEN c >= ({CONF_HI} * n + 99) // 100
                           THEN cents END) AS BIGINT) AS hi_cents
      FROM cum GROUP BY event_type
    )
    SELECT b.event_type, b.n_cal,
           CAST(count(*) AS BIGINT) AS n_eval,
           b.lo_cents, b.hi_cents,
           CAST(SUM(CASE WHEN e.cents BETWEEN b.lo_cents AND b.hi_cents
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN e.cents BETWEEN b.lo_cents AND b.hi_cents
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS coverage
    FROM base e JOIN bands b ON e.event_type = b.event_type
    WHERE NOT e.is_cal
    GROUP BY b.event_type, b.n_cal, b.lo_cents, b.hi_cents
    ORDER BY b.event_type
    """


@query("event_value_conformal_bands", oracle=_CONF_ORACLE)
def event_value_conformal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration audit (Vovk et al.; the
    distribution-free prediction-interval recipe ML serving uses): a
    deterministic hash of the event id splits each type's values into
    a calibration half and an evaluation half; the calibration half
    fixes the [p{LO}, p{HI}] band by nearest-rank inverse CDF over
    the cents-quantized value histogram, and the held-out half
    reports empirical coverage — if the band is honest, coverage
    lands near {HI_MINUS_LO}%. The deviation IS the drift/overfit
    signal. Everything is exact integers except the one coverage
    division; the split is a pure function of (salt, event_id),
    reproducible on any engine.

    Scale: ONE fact pass builds a (type, cents, is_cal) histogram
    (bounded by the quantized value domain per type, twice) — r14:
    the eval half previously re-scanned the facts and re-hashed every
    event_id a second time, but coverage is itself a function of the
    histogram (count rows whose cents fall inside the band), so both
    the calibration CDF and the eval scoring fold out of the same
    map-side-combined aggregate; the CDF windows run over the bounded
    frame — raw rows are never sorted."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    is_cal = F.expr(
        _CONF_SPLIT.format(
            h=salted_md5h(CONF_SALT, "CAST(event_id AS STRING)", SPARK)
        )
    )
    base = (
        ev.select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            is_cal.alias("is_cal"),
        )
        .groupBy("event_type", "cents", "is_cal")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    hist = base.where("is_cal").select("event_type", "cents", "cnt")
    wc = Window.partitionBy("event_type").orderBy("cents")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("cnt").over(wc).cast("bigint").alias("c"),
        F.sum("cnt")
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("n"),
    )

    def pick(q: int, name: str):
        idx = F.expr(f"({q} * n + 99) div 100")
        return (
            F.min(F.when(F.col("c") >= idx, F.col("cents")))
            .cast("bigint")
            .alias(name)
        )

    bands = cum.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_cal"),
        pick(CONF_LO, "lo_cents"),
        pick(CONF_HI, "hi_cents"),
    )
    covered = (
        F.col("cents") >= F.col("lo_cents")
    ) & (F.col("cents") <= F.col("hi_cents"))
    return (
        base.where(~F.col("is_cal"))
        .join(F.broadcast(bands), "event_type")
        .groupBy("event_type", "n_cal", "lo_cents", "hi_cents")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_eval"),
            F.sum(F.when(covered, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            "event_type",
            "n_cal",
            "n_eval",
            "lo_cents",
            "hi_cents",
            "n_covered",
            (
                F.col("n_covered").cast("double")
                / F.col("n_eval").cast("double")
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


event_value_conformal_bands.__doc__ = (
    (event_value_conformal_bands.__doc__ or "")
    .replace("{LO}", str(CONF_LO))
    .replace("{HI_MINUS_LO}", str(CONF_HI - CONF_LO))
    .replace("{HI}", str(CONF_HI))
)


# --- Poisson bootstrap confidence interval --------------------------------

BOOT_B = 200  # bootstrap replicates
BOOT_SALT = 4243  # base-hash salt
BOOT_LO = 5  # CI percentiles over the replicate sums
BOOT_HI = 95

# Poisson(1) pmf quantized to 1/10000 as a cumulative CASE ladder —
# identical integer thresholds on both engines make the per-(row,
# replicate) weight a pure function of the hash. Tail capped at 6
# (P(X>6) < 1e-4 at this quantization).
_POIS_CUM = (3679, 7358, 9197, 9810, 9963, 9994, 10000)


def _pois_weight(h_expr: str) -> str:
    cases = " ".join(
        f"WHEN ({h_expr}) % 10000 < {c} THEN {w}"
        for w, c in enumerate(_POIS_CUM)
    )
    return f"CASE {cases} ELSE 6 END"


def _boot_base(dialect: str) -> str:
    """Salted portable base hash per row, reduced below 2^30 — project
    this ONCE into its own column; the affine replicate family
    references the column so the md5 runs once per row, not once per
    (row, replicate)."""
    from end2end_data_pipeline_spark.functions.texthash import BASE_MOD

    key = (
        "CAST(o_orderkey AS STRING)"
        if dialect == SPARK
        else "CAST(o_orderkey AS VARCHAR)"
    )
    return f"({salted_md5h(BOOT_SALT, key, dialect)} % {BASE_MOD})"


def _boot_coeff_rows() -> list[tuple[int, int, int]]:
    """(replicate, a_j, b_j) — the MinHash affine family reused as the
    replicate fan-out. A 200-row TABLE, not a literal array inside a
    lambda: DuckDB re-materializes a literal list on every lambda
    evaluation (measured 21 s on 1.5k rows), a joined table costs one
    construction."""
    from end2end_data_pipeline_spark.functions.texthash import affine_coeffs

    return [(j, a, b) for j, (a, b) in enumerate(affine_coeffs(BOOT_B))]


def _boot_w_expr() -> str:
    """The per-(row, replicate) weight expression, shared VERBATIM by
    both engines over columns (h0, av, bv)."""
    from end2end_data_pipeline_spark.functions.texthash import MINHASH_P

    return _pois_weight(f"(av * h0 + bv) % {MINHASH_P}")


def _boot_oracle() -> str:
    rows = _boot_coeff_rows()
    js = ",".join(str(j) for j, _, _ in rows)
    avs = ",".join(str(a) for _, a, _ in rows)
    bvs = ",".join(str(b) for _, _, b in rows)
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT {_boot_base("duck")} AS h0,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), coeffs AS (
      SELECT unnest([{js}]) AS b, unnest([{avs}]) AS av,
             unnest([{bvs}]) AS bv
    ), sums AS (
      SELECT coeffs.b AS b,
             CAST(SUM(({_boot_w_expr()}) * cents) AS BIGINT) AS rev_cents,
             CAST(SUM(cents) AS BIGINT) AS raw_cents,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM hashed CROSS JOIN coeffs GROUP BY 1
    ), ranked AS (
      SELECT rev_cents, raw_cents, n_rows,
             CAST(row_number() OVER (ORDER BY rev_cents) AS BIGINT) AS r
      FROM sums
    )
    SELECT CAST(max(raw_cents) AS BIGINT) AS point_cents,
           CAST(max(n_rows) AS BIGINT) AS n_orders,
           CAST({BOOT_B} AS BIGINT) AS n_replicates,
           CAST(min(CASE WHEN r >= ({BOOT_LO} * {BOOT_B} + 99) // 100
                         THEN rev_cents END) AS BIGINT) AS ci_lo_cents,
           CAST(min(CASE WHEN r >= ({BOOT_HI} * {BOOT_B} + 99) // 100
                         THEN rev_cents END) AS BIGINT) AS ci_hi_cents
    FROM ranked
    """


@query("orders_revenue_bootstrap_ci", oracle=_boot_oracle())
def orders_revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for total order revenue —
    the resampling technique that works at 100 TB (Chamandy et al.,
    Google 2012): the classical bootstrap needs B coordinated row
    resamples, while the Poisson bootstrap gives every (row,
    replicate) an INDEPENDENT Poisson(1) weight, so all {B} replicate
    sums stream through one map-side-combined aggregation. The weights
    are deterministic — one salted portable base hash per row, fanned
    into {B} replicates by the MinHash affine family (a 200-row
    broadcast coefficient table, never a literal array inside a
    lambda), mapped through the quantized Poisson(1) inverse CDF — so
    both engines materialize the identical ensemble, every replicate
    sum is an exact integer, and the CI bounds are nearest-rank order
    statistics of {B} integers. No randomness, no floats anywhere.

    Scale: the broadcast coefficient join multiplies rows by {B}, but
    partial aggregation collapses them to {B} partial sums per
    partition before the shuffle — wire cost O(partitions x B),
    independent of row count. The point estimate rides the SAME
    aggregate (every replicate also sums the unweighted cents), so
    the whole answer is one scan, one bounded shuffle, one {B}-row
    window — no scalar joins."""
    orders = load_table(spark, sf_dir, "orders")
    coeffs = spark.createDataFrame(
        _boot_coeff_rows(), "b INT, av BIGINT, bv BIGINT"
    )
    # the repartition is a deliberate BARRIER: without it whole-stage
    # codegen inlines the md5 base hash into the joined stage and
    # recomputes it once per (row, replicate) — measured 27 s vs 2 s
    # at sf0.1. One O(rows x 16B) exchange buys B-1 avoided md5s/row.
    rep = (
        orders.select(
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "cents"
            ),
            F.expr(_boot_base(SPARK)).alias("h0"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(coeffs))
        .groupBy("b")
        .agg(
            F.sum(F.expr(f"({_boot_w_expr()}) * cents"))
            .cast("bigint")
            .alias("rev_cents"),
            F.sum("cents").cast("bigint").alias("raw_cents"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )
    wr = Window.orderBy("rev_cents")
    ranked = rep.select(
        "rev_cents",
        "raw_cents",
        "n_rows",
        F.row_number().over(wr).cast("bigint").alias("r"),
    )

    def pick(q: int, name: str):
        idx = (q * BOOT_B + 99) // 100
        return (
            F.min(F.when(F.col("r") >= idx, F.col("rev_cents")))
            .cast("bigint")
            .alias(name)
        )

    return ranked.agg(
        F.max("raw_cents").cast("bigint").alias("point_cents"),
        F.max("n_rows").cast("bigint").alias("n_orders"),
        F.lit(BOOT_B).cast("bigint").alias("n_replicates"),
        pick(BOOT_LO, "ci_lo_cents"),
        pick(BOOT_HI, "ci_hi_cents"),
    ).select(
        "point_cents", "n_orders", "n_replicates", "ci_lo_cents", "ci_hi_cents"
    )


orders_revenue_bootstrap_ci.__doc__ = (
    orders_revenue_bootstrap_ci.__doc__ or ""
).replace("{B}", str(BOOT_B))


# --- right-censored lifetable ---------------------------------------------

STUDY_END = "2001-08-02"  # administrative censoring date (corpus ends 08-01)
LIFETABLE_MAX_GAP = 120  # report out to this many days

_LIFE_ORACLE = f"""
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             CAST(floor((epoch(o_orderdate) - epoch(lag(o_orderdate) OVER w))
                        / 86400) AS BIGINT) AS g,
             (lead(o_orderdate) OVER w IS NULL) AS is_last
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), obs AS (
      SELECT 'event' AS kind, g FROM seq WHERE g IS NOT NULL
      UNION ALL
      SELECT 'censor' AS kind,
             CAST(floor((epoch(TIMESTAMP '{STUDY_END} 00:00:00')
                         - epoch(o_orderdate)) / 86400) AS BIGINT) AS g
      FROM seq WHERE is_last
    ), hist AS (
      SELECT g,
             CAST(SUM(CASE WHEN kind = 'event' THEN 1 ELSE 0 END) AS BIGINT)
               AS d,
             CAST(SUM(CASE WHEN kind = 'censor' THEN 1 ELSE 0 END) AS BIGINT)
               AS c
      FROM obs GROUP BY g
    ), risk AS (
      SELECT g, d, c,
             CAST(SUM(d + c) OVER (ORDER BY g DESC) AS BIGINT) AS n_at_risk
      FROM hist
    )
    SELECT g AS gap_days, d AS n_events, c AS n_censored, n_at_risk,
           CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE) AS hazard
    FROM risk WHERE g <= {LIFETABLE_MAX_GAP}
    ORDER BY gap_days
    """


@query("customer_censored_lifetable", oracle=_LIFE_ORACLE)
def customer_censored_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-censored discrete-time lifetable of repurchase — the
    statistically honest version of ``customer_repurchase_hazard``:
    every customer's OPEN interval (last order to the {END}
    administrative study end) enters the at-risk denominator as a
    censored observation, so the hazard is no longer biased upward by
    pretending customers who simply ran out of observation window had
    no exposure (the Kaplan-Meier correction; the caller chains
    survival as the running product of (1 - hazard)). Events and
    censorings stream from the SAME per-customer window pass — lag
    for gaps, lead-is-null for the last order — so the fact is
    scanned once.

    Scale: one customer-keyed shuffle (the shared cohort/gap
    exchange); both observation kinds collapse to a calendar-bounded
    day histogram, and the at-risk suffix sum windows over that
    bounded frame. All counts exact integers; one hazard division."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_orderdate",
        F.floor(
            (
                F.col("o_orderdate").cast("long")
                - F.lag("o_orderdate").over(w).cast("long")
            )
            / 86400
        )
        .cast("bigint")
        .alias("g"),
        F.lead("o_orderdate").over(w).isNull().alias("is_last"),
    )
    censor_g = (
        F.floor(
            (
                F.lit(f"{STUDY_END} 00:00:00").cast("timestamp").cast("long")
                - F.col("o_orderdate").cast("long")
            )
            / 86400
        )
        .cast("bigint")
    )
    obs = seq.select(
        F.explode(
            F.filter(
                F.array(
                    F.struct(
                        F.lit("event").alias("kind"), F.col("g").alias("g")
                    ),
                    F.struct(
                        F.lit("censor").alias("kind"),
                        F.when(F.col("is_last"), censor_g).alias("g"),
                    ),
                ),
                lambda x: x["g"].isNotNull(),
            )
        ).alias("o")
    ).select("o.kind", "o.g")
    hist = obs.groupBy("g").agg(
        F.sum((F.col("kind") == "event").cast("int"))
        .cast("bigint")
        .alias("d"),
        F.sum((F.col("kind") == "censor").cast("int"))
        .cast("bigint")
        .alias("c"),
    )
    wr = Window.orderBy(F.col("g").desc())
    return (
        hist.select(
            F.col("g").alias("gap_days"),
            F.col("d").alias("n_events"),
            F.col("c").alias("n_censored"),
            F.sum(F.col("d") + F.col("c"))
            .over(wr)
            .cast("bigint")
            .alias("n_at_risk"),
        )
        .where(F.col("gap_days") <= LIFETABLE_MAX_GAP)
        .withColumn(
            "hazard",
            F.col("n_events").cast("double")
            / F.col("n_at_risk").cast("double"),
        )
        .orderBy("gap_days")
    )


customer_censored_lifetable.__doc__ = (
    customer_censored_lifetable.__doc__ or ""
).replace("{END}", STUDY_END)


# Seasonal-naive backtest horizon: forecast each day's revenue with
# the value 7 days earlier (weekly seasonality), benchmarked against
# the 1-day naive via MASE. Pure integer-cents sums; the only double
# is one final division of exact BIGINTs.
MASE_SEASON_DAYS = 7


def _mase_sql(dialect: str) -> str:
    day_fmt = (
        "date_format(day, 'yyyy-MM-dd')"
        if dialect == "spark"
        else "strftime(day, '%Y-%m-%d')"
    )
    spine = (
        "SELECT explode(sequence(dmin, dmax, interval 1 day)) AS day"
        if dialect == "spark"
        else "SELECT unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS day"
    )
    s = MASE_SEASON_DAYS
    return f"""
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS dmin,
             CAST(max(o_orderdate) AS DATE) AS dmax
      FROM orders
    ), spine AS (
      {spine} FROM bounds
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY 1
    ), dense AS (
      SELECT {day_fmt} AS day, COALESCE(rev_cents, 0) AS rev_cents
      FROM spine LEFT JOIN daily USING (day)
    ), lagged AS (
      SELECT day, rev_cents,
             lag(rev_cents, {s}) OVER w AS seasonal_fc,
             lag(rev_cents, 1) OVER w AS naive_fc,
             row_number() OVER w AS rn
      FROM dense
      WINDOW w AS (ORDER BY day)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_eval,
           CAST(SUM(abs(rev_cents - seasonal_fc)) AS BIGINT)
             AS sae_seasonal_cents,
           CAST(SUM(abs(rev_cents - naive_fc)) AS BIGINT)
             AS sae_naive_cents,
           CAST(SUM(abs(rev_cents - seasonal_fc)) AS DOUBLE)
             / CAST(SUM(abs(rev_cents - naive_fc)) AS DOUBLE) AS mase
    FROM lagged WHERE rn > {s}
    """


@query("orders_seasonal_naive_mase", oracle=_mase_sql("duck"))
def orders_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's revenue
    with the revenue {S} days earlier and score it with MASE (the
    scale-free forecast metric — seasonal absolute error over 1-day
    naive absolute error). MASE < 1 means weekly seasonality carries
    real signal over pure persistence; the one-number go/no-go before
    investing in a heavier forecaster, complementing
    ``orders_seasonality_dow`` (descriptive) and
    ``orders_daily_ewma16`` (smoothing). Errors are exact integer
    cents on a DENSE calendar spine (missing days count as zero
    revenue — the honest backtest; lag over observed days only would
    silently skip gaps); both engines evaluate the same rows because
    the first {S} spine days are excluded by row number, not by
    NULL-ness.

    Scale: one date-keyed partial agg collapses the fact table to
    O(#days) rows before the single ordered window; the spine join and
    window are calendar-bounded (~2.5k rows), one task. No empty-frame
    SUM: lag() rows with no history are excluded by the rn filter."""
    register_views(spark, sf_dir, "orders")
    return spark.sql(_mase_sql("spark"))


orders_seasonal_naive_mase.__doc__ = orders_seasonal_naive_mase.__doc__.replace(
    "{S}", str(MASE_SEASON_DAYS)
)
