"""Graph analytics over the trade network — iterative algorithms
beyond the connected-components machinery in ``operators/dedup.py``.

The graph: nations are nodes; an edge cust_nation -> supp_nation
carries the lineitem revenue its customers paid that nation's
suppliers (the q7 bilateral-volume aggregation, all pairs). Weighted
PageRank then ranks nations by trade centrality.

Cross-engine exactness: PageRank is normally float math whose
summation order differs between engines. Here every step is BIGINT:
ranks live at a 10^12 scale, the damping factor 0.85 is the exact
rational 17/20 applied with integer division, and per-edge
contributions floor-divide by the source's out-weight. Both engines
execute the identical floor arithmetic, so an 8-iteration run is
bit-for-bit reproducible — the DuckDB oracle unrolls the loop as
chained CTEs.

Scale: the edge list aggregates once from the fact tables (the only
heavy shuffle); each iteration is then edges ⋈ broadcast(ranks) +
a groupBy(dst) over |edges| rows. At 100 TB the fact scan dominates;
the iteration loop touches only the O(|nations|^2) edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from end2end_data_pipeline_spark.operators.affinity import (
    MIN_SUPPORT as KCORE_MIN_SUPPORT,
    copurchase_sym_edges,
)
from end2end_data_pipeline_spark.registry import query
from end2end_data_pipeline_spark.sources.tables import (
    frame_memo_tag,
    load_table,
    session_cached,
    session_checkpointed,
)

PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (10^12)
PR_ITERS = 8
N_NATIONS = 25
# damping 0.85 as the exact rational 17/20; teleport = (1-d)/N
TELEPORT = PR_SCALE * 3 // (20 * N_NATIONS)
# per-edge weight share pre-normalized to this scale so the iteration
# multiply stays < 2^63: rank*17/20 (<= 8.5e11) * wshare (<= 1e6)
W_SHARE_SCALE = 1_000_000

_EDGES_SQL = """
    SELECT n1.n_name AS src,
           n2.n_name AS dst,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS w
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    GROUP BY src, dst
"""


def _pagerank_oracle() -> str:
    """Unrolled 8-iteration weighted PageRank as chained CTEs."""
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        """outw AS (
          SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src
        )""",
        f"""eshare AS (
          SELECT e.src, e.dst,
                 CAST(e.w * {W_SHARE_SCALE} // o.wout AS BIGINT) AS wshare
          FROM edges e JOIN outw o ON e.src = o.src
        )""",
        f"""r0 AS (
          SELECT n_name AS node, CAST({PR_SCALE // N_NATIONS} AS BIGINT) AS rank
          FROM nation
        )""",
    ]
    for i in range(PR_ITERS):
        ctes.append(f"""r{i + 1} AS (
          SELECT n.node,
                 CAST({TELEPORT} + COALESCE(c.contrib, 0) AS BIGINT) AS rank
          FROM r0 n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(SUM(((r.rank * 17) // 20) * e.wshare
                            // {W_SHARE_SCALE}) AS BIGINT) AS contrib
            FROM eshare e
            JOIN r{i} r ON e.src = r.node
            GROUP BY e.dst
          ) c ON n.node = c.node
        )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT node, rank,
           rank / CAST((SELECT SUM(rank) FROM r{PR_ITERS}) AS DOUBLE)
               AS rank_share
    FROM r{PR_ITERS}
    ORDER BY node
    """
    )


@query("nation_trade_pagerank", oracle=_pagerank_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph, 8 fixed-point
    iterations (see module docstring for the exact-integer contract).

    Spark side: the edge aggregation is the only fact-table pass
    (orders ⋈ lineitem SMJ with broadcast dims, exactly the q7 shape);
    ranks then iterate as broadcast joins against the tiny cached edge
    list — each round is one O(|edges|) stage, no lineage blowup at
    8 iterations."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    edges = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                 F.col("n_name").alias("src"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                 F.col("n_name").alias("dst"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    # edges feeds the out-weight rollup AND the share join — cached so
    # the fact scan happens once at build
    edges = session_cached(
        spark, frame_memo_tag(sf_dir, "pagerank_edges"), lambda: edges
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    # session-cached: re-read every one of the 8 iterations; repeats
    # share ONE InMemoryRelation per frame (the bare-cache leak fix)
    eshare = session_cached(
        spark,
        frame_memo_tag(sf_dir, "pagerank_eshare"),
        lambda: edges.join(F.broadcast(outw), "src").select(
            "src",
            "dst",
            F.expr(f"w * {W_SHARE_SCALE} div wout").cast("bigint").alias("wshare"),
        ),
    )
    # re-read every iteration for the teleport left join (a 25-row
    # dim, so this trims file-listing overhead, not data volume)
    nodes = session_cached(
        spark,
        frame_memo_tag(sf_dir, "pagerank_nodes"),
        lambda: n.select(F.col("n_name").alias("node")),
    )
    ranks = nodes.select(
        "node", F.lit(PR_SCALE // N_NATIONS).cast("bigint").alias("rank")
    )
    for k in range(PR_ITERS):
        contribs = (
            eshare.join(F.broadcast(ranks), eshare.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"((rank * 17) div 20) * wshare div {W_SHARE_SCALE}").alias(
                    "c"
                ),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        # per-round rank state checkpointed, not chained (r14, the
        # k-core lesson): 8 chained rounds kept every earlier round's
        # lineage in the analyzed plan, so each invocation re-planned
        # the whole tower (the sf0.001 parity test alone spent ~49 s
        # mostly planning); each round is O(|nations|) rows.
        ranks = session_checkpointed(
            spark,
            frame_memo_tag(sf_dir, f"pagerank_r{k + 1}"),
            lambda: nodes.join(F.broadcast(contribs), "node", "left").select(
                "node",
                (F.lit(TELEPORT) + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("bigint")
                .alias("rank"),
            ),
        )
    total = ranks.agg(F.sum("rank").alias("total"))
    return (
        ranks.crossJoin(F.broadcast(total))
        .select(
            "node",
            "rank",
            (F.col("rank") / F.col("total").cast("double")).alias("rank_share"),
        )
        .orderBy("node")
    )


COSESSION_MINUTE_CAP = 50  # max users considered per co-presence minute


@query(
    "user_cosession_degree",
    # Implicit co-presence graph: users active in the same minute are
    # neighbors. The minute bucket is capped at COSESSION_MINUTE_CAP
    # users (deterministic user_id order) so a flash-crowd minute
    # can't go quadratic — the same hot-bucket device as the LSH
    # band join caps, applied identically by both engines.
    oracle=f"""
    WITH mu AS (
      SELECT DISTINCT date_trunc('minute', ts) AS m, user_id
      FROM events
    ), capped AS (
      SELECT m, user_id FROM (
        SELECT m, user_id,
               row_number() OVER (PARTITION BY m ORDER BY user_id) AS rk
        FROM mu
      ) WHERE rk <= {COSESSION_MINUTE_CAP}
    ), pairs AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM capped a JOIN capped b
        ON a.m = b.m AND a.user_id < b.user_id
    ), degrees AS (
      SELECT u AS user_id, count(*) AS degree FROM (
        SELECT u, v FROM pairs
        UNION ALL
        SELECT v AS u, u AS v FROM pairs
      ) GROUP BY u
    )
    SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_users
    FROM degrees GROUP BY degree ORDER BY degree
    """,
)
def user_cosession_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the implicit co-activity graph: users
    who produce events in the same wall-clock minute are linked, and
    the histogram of per-user neighbor counts profiles how social /
    bursty the traffic is (a long-tailed degree curve = shared spikes,
    a flat one = independent users). The audience-overlap primitive
    behind collaborative filtering and fraud-ring detection.

    Scale: ONE pass over the fact — per-minute capped user arrays
    ({CAP} by user_id order, identical in both engines) built in a
    single aggregation, pairs generated INSIDE the bounded arrays
    (sum over minutes of capped-bucket-squared, never |users|^2), so
    there is no self-join and no second scan. One shuffle on the
    minute key, one on the pair for the distinct, one on user for the
    degree count; the histogram is O(distinct degrees)."""
    ev = load_table(spark, sf_dir, "events")
    # ONE scan: per-minute sorted-distinct user arrays (bounded at the
    # cap — array_sort(collect_set)[1..CAP] IS "rank by user_id, keep
    # <= cap"), pairs generated by a nested array transform inside the
    # bounded arrays. A self-join formulation reads the fact table
    # twice and duplicates the cap window on both sides; this shape
    # aggregates once and never materializes an uncapped bucket.
    per_minute = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("m"))
        .agg(
            F.slice(
                F.array_sort(F.collect_set("user_id")),
                1,
                COSESSION_MINUTE_CAP,
            ).alias("us")
        )
    )
    pair_expr = F.flatten(
        F.transform(
            "us",
            lambda x, i: F.transform(
                F.slice(
                    F.col("us"), i + 2, F.lit(COSESSION_MINUTE_CAP)
                ),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    pairs = (
        per_minute.select(F.explode(pair_expr).alias("p"))
        .select("p.u", "p.v")
        .distinct()
    )
    # degree counts both endpoints of each u<v pair: explode the
    # 2-array instead of a self-union (which would duplicate the
    # whole pair-generation subtree in the plan)
    sym = pairs.select(F.explode(F.array("u", "v")).alias("u"))
    degrees = sym.groupBy("u").agg(F.count("*").alias("degree"))
    return (
        degrees.groupBy(F.col("degree").cast("bigint").alias("degree"))
        .agg(F.count("*").alias("n_users"))
        .orderBy("degree")
    )


user_cosession_degree.__doc__ = user_cosession_degree.__doc__.replace(
    "{CAP}", str(COSESSION_MINUTE_CAP)
)


# --- weighted shortest paths (min-plus relaxation) --------------------

SP_SOURCE = "NATION_0"
SP_ITERS = 6  # fixed Bellman-Ford rounds (paths of <= 6 edges)

# directed trade edge cust_nation -> supp_nation, weighted by the
# FASTEST observed order->ship fulfillment latency (whole days) on
# that lane; records with ship before order are clock-skew noise in
# the synthetic fixture and are excluded (weights stay >= 0, so the
# min-plus relaxation is a genuine shortest path, not a negative-drift)
_SP_EDGES_SQL = """
    SELECT src, dst, CAST(min(lat) AS BIGINT) AS w FROM (
      SELECT n1.n_name AS src, n2.n_name AS dst,
             CAST(floor((epoch(l_shipdate) - epoch(o_orderdate))
                        / 86400) AS BIGINT) AS lat
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
    ) WHERE lat >= 0
    GROUP BY src, dst
"""


def _shortest_path_oracle() -> str:
    """Unrolled SP_ITERS-round Bellman-Ford as chained CTEs."""
    ctes = [f"edges AS ({_SP_EDGES_SQL})"]
    ctes.append(
        f"r0 AS (SELECT '{SP_SOURCE}' AS node, CAST(0 AS BIGINT) AS dist)"
    )
    for k in range(SP_ITERS):
        ctes.append(
            f"""r{k + 1} AS (
      SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT node, dist FROM r{k}
        UNION ALL
        SELECT e.dst AS node, r{k}.dist + e.w AS dist
        FROM r{k} JOIN edges e ON e.src = r{k}.node
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, dist AS dist_days FROM r{SP_ITERS} ORDER BY node"
    )


@query("nation_supply_latency_paths", oracle=_shortest_path_oracle())
def nation_supply_latency_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source weighted shortest paths over the nation trade
    graph: edge weight is the fastest observed order->ship fulfillment
    latency (whole days, skew-negative records excluded) on each
    cust-nation -> supp-nation lane, and the
    answer is the minimum cumulative relay latency from {SP_SOURCE} to
    every reachable nation within {SP_ITERS} hops — {SP_ITERS} fixed
    Bellman-Ford rounds in the min-plus semiring, the third iterative
    graph contract here next to PageRank (sum-product) and the
    reachability BFS. All-integer, so both engines agree bit-for-bit;
    the oracle unrolls the same rounds as chained CTEs.

    Scale: the lane aggregation is the only fact-table pass (one
    orders ⋈ lineitem shuffle with broadcast dims); the relaxation
    loop then joins the O(|nations|) frontier against the cached
    O(|nations|^2) edge list — each round one tiny broadcast-join
    stage, bounded lineage at {SP_ITERS} rounds."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    lat = F.floor(
        (F.col("l_shipdate").cast("long") - F.col("o_orderdate").cast("long"))
        / 86400
    ).cast("bigint")
    edges = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("src"))
            ),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(
            F.broadcast(
                n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("dst"))
            ),
            F.col("s_nationkey") == F.col("sk"),
        )
        .where(F.col("src") != F.col("dst"))
        .withColumn("lat", lat)
        .where(F.col("lat") >= 0)
        .groupBy("src", "dst")
        .agg(F.min("lat").cast("bigint").alias("w"))
    )
    # zero-weight self-loops make each round a pure recompute
    # (min over edges∪self ≡ the oracle's UNION ALL keep-self), so the
    # iterated frame only ever enters the plan as a broadcast — the
    # pagerank loop shape: lineage stays flat, each round is one tiny
    # broadcast-join stage over the cached O(|nations|²) edge list
    # session-cached with coalesce(1) FIRST: cached builds run outside
    # AQE partition coalescing (the ge2 lesson) and O(|nations|²) rows
    # need one partition — an uncoalesced cache re-reads ~200
    # near-empty partitions every relaxation round. Only aug is
    # cached: edges has no other consumer (r9 review — a second cache
    # there was a dead copy of near-identical data).
    aug = session_cached(
        spark,
        frame_memo_tag(sf_dir, "sp_aug"),
        lambda: edges.unionAll(
            n.select(
                F.col("n_name").alias("src"),
                F.col("n_name").alias("dst"),
                F.lit(0).cast("bigint").alias("w"),
            )
        ).coalesce(1),
    )
    dist = spark.createDataFrame(
        [(SP_SOURCE, 0)], "node string, dist long"
    )
    for _ in range(SP_ITERS):
        dist = (
            aug.join(F.broadcast(dist), aug["src"] == dist["node"])
            .groupBy(F.col("dst").alias("nd"))
            .agg(F.min(F.col("dist") + F.col("w")).cast("bigint").alias("d"))
            .select(F.col("nd").alias("node"), F.col("d").alias("dist"))
        )
    return dist.select("node", F.col("dist").alias("dist_days")).orderBy("node")


nation_supply_latency_paths.__doc__ = (
    nation_supply_latency_paths.__doc__ or ""
).replace("{SP_SOURCE}", SP_SOURCE).replace("{SP_ITERS}", str(SP_ITERS))


# --- bounded k-core peeling --------------------------------------------

KCORE_K = 3  # minimum surviving degree
KCORE_ROUNDS = 4  # fixed synchronous peel rounds (both engines unroll)


def _kcore_oracle() -> str:
    """Unrolled KCORE_ROUNDS-round k-core peeling as chained CTEs."""
    # every e_r / k_r is referenced 2-3x by the next level AND by the
    # census rows; without MATERIALIZED, DuckDB inlines each reference
    # and the base pair-generation re-plans O(3^rounds) times
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""p0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {KCORE_MIN_SUPPORT}
    )""",
        "e0 AS MATERIALIZED"
        " (SELECT u, v FROM p0 UNION ALL SELECT v AS u, u AS v FROM p0)",
    ]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"""k{r} AS MATERIALIZED (
      SELECT u AS node FROM e{r} GROUP BY u
      HAVING count(*) >= {KCORE_K}
    )"""
        )
        ctes.append(
            f"""e{r + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{r} e
      JOIN k{r} a ON e.u = a.node
      JOIN k{r} b ON e.v = b.node
    )"""
        )
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({r + 1} AS BIGINT) AS round,
           CAST((SELECT count(DISTINCT u) FROM e{r + 1}) AS BIGINT)
             AS n_nodes,
           CAST((SELECT count(*) FROM e{r + 1}) // 2 AS BIGINT) AS n_edges"""
        for r in range(KCORE_ROUNDS)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    {rows}\n    ORDER BY round"
    )


@query("part_copurchase_kcore", oracle=_kcore_oracle())
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded {KCORE_K}-core peeling of the co-purchase graph: each
    of {KCORE_ROUNDS} synchronous rounds removes every part with
    fewer than {KCORE_K} surviving co-purchase neighbors, reporting
    the node/edge census after each round — the density-pruning pass
    that separates a real product community from chains of one-off
    pairings (full k-core is this iterated to fixpoint; the bounded
    prefix is deterministic and identical on both engines, which the
    data-dependent fixpoint round count would not be). Fourth member
    of the iterative-graph family: PageRank (sum-product), shortest
    paths (min-plus), LPA (mode), and now structural pruning.

    Scale: the support-filtered symmetric edge list builds once from
    the order-keyed pair generation (session-cached, the LPA edge
    machinery); each round is a degree aggregate plus two semi-shaped
    equi-joins against the shrinking survivor set — the synchronous
    peel step as join+groupBy, O(|edges|) per round, no driver-side
    graph state. The census rows are four 1-row aggregates."""
    edges = copurchase_sym_edges(spark, sf_dir)
    stats = []
    for r in range(KCORE_ROUNDS):
        keep = (
            edges.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= KCORE_K)
            .select(F.col("u").alias("node"))
        )
        # each round's survivors are materialized: the next level
        # references this frame three times (directly + via both semi
        # probes) and the census reads it again — unmaterialized, the
        # chain re-derives the base O(3^rounds) times (mirrors the
        # oracle's MATERIALIZED hint). CHECKPOINTED, not cached (r14):
        # a session_cached round keeps its full lineage in the
        # analyzed plan, so four rounds compounded to a 234k-line
        # tree and ~3 s of driver-side re-planning PER INVOCATION;
        # the eager DISK_ONLY checkpoint truncates each round to a
        # LogicalRDD leaf (interleaved A/B: min 2.9-3.5 s cached vs
        # 0.35-0.45 s checkpointed, identical rows).
        edges = session_checkpointed(
            spark,
            frame_memo_tag(sf_dir, f"kcore_e{r + 1}"),
            lambda: edges.join(keep, edges["u"] == keep["node"], "left_semi").join(
                keep.select(F.col("node").alias("vnode")),
                F.col("v") == F.col("vnode"),
                "left_semi",
            ),
        )
        stats.append(
            edges.agg(
                F.lit(r + 1).cast("bigint").alias("round"),
                F.count_distinct("u").cast("bigint").alias("n_nodes"),
                F.expr("count(*) div 2").cast("bigint").alias("n_edges"),
            ).select("round", "n_nodes", "n_edges")
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


part_copurchase_kcore.__doc__ = (
    (part_copurchase_kcore.__doc__ or "")
    .replace("{KCORE_K}", str(KCORE_K))
    .replace("{KCORE_ROUNDS}", str(KCORE_ROUNDS))
)


# --- degree assortativity ------------------------------------------------

# Pearson r over directed edge endpoint degrees, the exact-sums shape
# of quality._corr_r, inlined with the same column contract so the
# expression tree is shared verbatim with the oracle.
_ASSORT_R = (
    "CASE WHEN (sqrt(CAST(n AS DOUBLE) * CAST(ss_x AS DOUBLE)"
    " - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(ss_y AS DOUBLE)"
    " - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))) = 0 THEN NULL"
    " ELSE (CAST(n AS DOUBLE) * CAST(sp_xy AS DOUBLE)"
    " - CAST(s_x AS DOUBLE) * CAST(s_y AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(ss_x AS DOUBLE)"
    " - CAST(s_x AS DOUBLE) * CAST(s_x AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(ss_y AS DOUBLE)"
    " - CAST(s_y AS DOUBLE) * CAST(s_y AS DOUBLE))) END"
)

_ASSORT_ORACLE = f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {KCORE_MIN_SUPPORT}
    ),
    e AS MATERIALIZED
      (SELECT u, v FROM p0 UNION ALL SELECT v AS u, u AS v FROM p0),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
            FROM e GROUP BY 1),
    xy AS (
      SELECT e.u AS u, du.d AS x, dv.d AS y
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT u) AS BIGINT) AS n_nodes,
             CAST(SUM(x) AS BIGINT) AS s_x,
             CAST(SUM(y) AS BIGINT) AS s_y,
             SUM(CAST(x AS HUGEINT) * x) AS ss_x,
             SUM(CAST(y AS HUGEINT) * y) AS ss_y,
             SUM(CAST(x AS HUGEINT) * y) AS sp_xy
      FROM xy
    )
    SELECT n AS n_directed_edges, n_nodes,
           {_ASSORT_R} AS assortativity_r
    FROM g
    """


@query("part_copurchase_assortativity", oracle=_ASSORT_ORACLE)
def part_copurchase_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman 2002):
    Pearson correlation of the endpoint degrees over the directed
    edge list — positive means hubs buy with hubs (a rich-club
    catalog), negative means hubs bridge the long tail (hub-and-spoke
    merchandising). The one-number structural summary read next to
    the k-core census and the community count.

    Scale: shares the session-cached symmetric support-filtered edge
    list with ``part_copurchase_kcore`` (same cache tag — built once
    per session); degrees are one groupBy over it; the endpoint
    lookups are two equi-joins keyed on the node id; the correlation
    reduces to ONE row of exact integer sums, cast to double once in
    the fixed-shape r expression."""
    edges = copurchase_sym_edges(spark, sf_dir)
    deg = session_cached(
        spark,
        frame_memo_tag(sf_dir, "kcore_deg"),
        lambda: edges.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").cast("bigint").alias("d"))
        .coalesce(8),
    )
    du = deg.select(F.col("node").alias("un"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("vn"), F.col("d").alias("y"))
    # n_nodes rides the SAME aggregate as the sums (every node with an
    # edge appears as a u), so there is no second output branch and no
    # scalar join anywhere in the plan
    g = (
        edges.join(du, F.col("u") == F.col("un"))
        .join(dv, F.col("v") == F.col("vn"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_distinct("u").cast("bigint").alias("n_nodes"),
            F.sum("x").cast("bigint").alias("s_x"),
            F.sum("y").cast("bigint").alias("s_y"),
            # degree products accumulate in DECIMAL(38,0)/HUGEINT (r13
            # overflow audit): endpoint degrees both grow with the
            # catalog, and under hub skew sum(x*y) ~ d_max^2 * E can
            # cross int64 well before the plain degree sums do; the
            # already-cast-first _ASSORT_R crosses to double once.
            F.sum(F.col("x").cast("decimal(19,0)") * F.col("x")).alias("ss_x"),
            F.sum(F.col("y").cast("decimal(19,0)") * F.col("y")).alias("ss_y"),
            F.sum(F.col("x").cast("decimal(19,0)") * F.col("y")).alias("sp_xy"),
        )
    )
    return g.select(
        F.col("n").alias("n_directed_edges"),
        "n_nodes",
        F.expr(_ASSORT_R).alias("assortativity_r"),
    )
